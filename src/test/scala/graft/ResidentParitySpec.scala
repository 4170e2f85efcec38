package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.{TextFns, VecFns}
import graft.operators.Resident

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom

/** Typed resident search == DataFrame search over a seeded hadith corpus
  * the suite writes itself (FIXTURES.md §1 schema), so the parity pin
  * runs on any host — no reference snapshot needed. Covers every Router
  * class, the three scoring modes, citation rows with null parts, a
  * zero-norm query and a candidate pool smaller than the probe's k. */
class ResidentParitySpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private val Themes = Seq("patience", "charity", "prayer", "mercy", "anger",
    "truth", "fasting", "parents", "neighbor", "knowledge", "gratitude",
    "hardship", "reward", "forgiveness", "intention", "kindness")
  private val Filler = for (a <- Seq("ka", "ri", "to", "men", "sal", "dor", "vi", "lan");
                            b <- Seq("qu", "bel", "tur", "ash", "om", "nid")) yield a + b
  private val Arabic = Seq("الصبر", "الصدقة", "الصلاة", "الرحمة", "الغضب",
    "الصدق", "الصيام", "الوالدين", "الجار", "العلم", "الشكر", "النية", "قال",
    "رسول", "الله", "يوم")
  private val Narrators = Seq("Abu Hurairah", "Ibn 'Umar", "Aishah",
    "Anas bin Malik", "Abu Musa Al-Ash'ari", "Jabir bin 'Abdullah")
  private val Books = 5
  private val NDocs = 300

  /** Per-doc English words, kept so queries can quote a doc's own span. */
  private lazy val (booksDir, enWords): (String, IndexedSeq[Seq[String]]) = {
    val dir = Files.createTempDirectory("graft-hadith").toFile
    val r = new SplittableRandom(0x4ad17L)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    val perBook = NDocs / Books
    val words = (0 until NDocs).map { i =>
      Seq.fill(12 + r.nextInt(60))(if (r.nextInt(4) == 0) pick(Themes) else pick(Filler))
    }
    val rows = (0 until NDocs).map { i =>
      val book = 1 + i / perBook
      val num = 1 + i % perBook
      val o = mapper.createObjectNode()
      o.put("collection_slug", "riyadussalihin")
      o.put("collection_name", "Riyad as-Salihin")
      o.put("book_id", book.toString)
      o.put("book_title_en", s"The Book of ${Themes(book)}")
      o.put("chapter_id", s"C$book.00")
      o.put("hadith_id_site", s"h${1700000 + i}")
      // both citation shapes, each sometimes missing (null ref columns)
      if (i % 17 == 5) o.putNull("hadith_num_global")
      else o.put("hadith_num_global", s"Riyad as-Salihin ${i + 1}")
      if (i % 13 == 7) o.putNull("hadith_num_in_book")
      else o.put("hadith_num_in_book", s"Book $book, Hadith $num")
      // leading spaces exercise the snippet trim; a non-BMP letter on
      // some docs exercises the code-point (not UTF-16) preview cut
      // "ramadan" is rare on purpose: 12 docs, fewer than a probe's k
      val en = (if (i % 9 == 0) "  " else "") + words(i).mkString(" ").capitalize +
        (if (i % 25 == 0) " ramadan" else "") + (if (i % 11 == 0) " 𝔄 end." else ".")
      val ar = Seq.fill(8 + r.nextInt(20))(pick(Arabic)).mkString(" ")
      val texts = o.putArray("texts")
      texts.addObject().put("language", "en").put("content", en)
      texts.addObject().put("language", "ar").put("content", ar)
      if (i % 10 == 3) o.putNull("narrator")
      else o.put("narrator", s"${pick(Narrators)} (May Allah be pleased with him) reported:")
      val grading = o.putArray("grading")
      if (i % 3 == 0) grading.add("Sahih") else if (i % 7 == 1) grading.add("Hasan")
      o.putArray("references")
      o.putArray("topics")
      o.putArray("footnotes")
      o.put("source_url", s"https://sunnah.com/riyadussalihin:${i + 1}")
      o.put("scraped_at", "2025-11-14T00:00:00Z")
      o.put("checksum", s"c$i")
      (book, mapper.writeValueAsString(o))
    }
    rows.groupBy(_._1).foreach { case (b, rs) =>
      Files.write(new File(dir, s"book_$b.jsonl").toPath,
        rs.map(_._2).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    (dir.getPath, words)
  }

  private lazy val hadith = Graft.openHadith(spark, s"$booksDir/book_*.jsonl")

  /** "ramadan" plus a token whose hashed embedding cancels it (same
    * bucket, opposite sign): the query's vector leg is empty (zero norm)
    * while its lexical leg still finds the 12 "ramadan" documents. */
  private lazy val zeroNormQuery: String = {
    val dim = hadith.index.dim
    def bs(t: String): (Long, Long) = {
      val h = TextFns.hash31Local(t)
      (h % dim, (h / dim) % 2)
    }
    val a = bs("ramadan")
    Iterator.from(0).map(i => s"zq$i")
      .find(b => bs(b)._1 == a._1 && bs(b)._2 != a._2)
      .map(b => s"ramadan $b").get
  }

  private def check(q: String, n: Int, mode: String): (Seq[Resident.SearchHit], Int) = {
    val (df, dfPool) = hadith.searchWithCandidates(q, n, mode)
    val dfHits = df.collect().toSeq.map(r => Resident.SearchHit(
      r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
      r.getDouble(8)))
    val (typed, pool) = hadith.searchTypedScored(q, n, mode)
    assert(typed === dfHits, s"'$q' [$mode, n=$n] diverged")
    assert(pool === dfPool, s"'$q' [$mode, n=$n] candidate pool diverged")
    (typed, pool)
  }

  test("generated corpus validates and stays under the resident bounds") {
    val silver = hadith.silver
    assert(silver.count() === NDocs)
    assert(silver.where("narrator is null").count() > 0)
    assert(silver.where("ref_global is null").count() > 0)
    assert(silver.where("ref_book is null").count() > 0)
    assert(Resident.hadithLayers(hadith.index, Graft.MaxResidentRows).isDefined)
  }

  test("searchTyped == search on every Router class (balanced, spec, term-priority)") {
    val phrase = "\"" + enWords(42).slice(2, 6).mkString(" ") + "\""
    val queries = Seq(
      "Riyad as-Salihin 42", "Book 2, Hadith 7", "3:5", "riyadussalihin 99999",
      "Riyad as-Salihin 6", // its global number is null in the corpus
      "Hadith narrated by Abu Hurairah", "narrated by Aishah", "عن ابن عمر",
      "hadith about patience and gratitude in hardship", phrase,
      "أحاديث عن الصبر والشكر في الشدة",
      "charity", "mercy prayer", "الصبر", "hadith about الصبر (patience)",
      "", "   ", "asdfghjkl", "the the the the")
    val classes = queries.map(Router.route(_).qtype).toSet
    assert(classes === Set("exact_reference", "narrator", "thematic", "mixed"))
    for (q <- queries; mode <- Seq("balanced", "spec", "term-priority")) check(q, 10, mode)
    // the citation probe really matched rows on both shapes
    assert(check("Riyad as-Salihin 42", 10, "spec")._1.map(_.docId) ===
      Seq("riyadussalihin:1:h1700041"))
    assert(check("Book 2, Hadith 7", 10, "spec")._1.map(_.docId) ===
      Seq("riyadussalihin:2:h1700066"))
    assert(check(phrase, 10, "balanced")._1.exists(_.phraseBonus > 0.0))
  }

  test("zero-norm query and pools smaller than k stay typed == DataFrame") {
    val q = zeroNormQuery
    val v = VecFns.hashEmbedLocal(Router.embedTokens(q), hadith.index.dim)
    assert(v.forall(_ == 0.0), s"'$q' is not zero-norm")
    Seq("balanced", "spec", "term-priority").foreach { mode =>
      val (hits, pool) = check(q, 10, mode)
      // only the lexical leg contributes: fewer candidates than k = 50
      assert(pool > 0 && pool < 50, s"'$q' [$mode] pool $pool")
      assert(hits.forall(_.vectorSimilarity == 0.0))
    }
    // k = 600 exceeds the corpus: both legs return every candidate
    Seq("hadith about patience and gratitude", "mercy prayer").foreach { q =>
      val (hits, pool) = check(q, 120, "balanced")
      assert(pool === NDocs && hits.size === 120)
    }
  }
}
