package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every generator draws from its own
  * `SplittableRandom(seed ^ salt)`, writes its files in a fixed order
  * with a fixed field order, and returns the ground truth the checks
  * need; the same seed gives byte-identical files. */
object Gen {
  private val mapper = new ObjectMapper()

  /** Zipf(s) sampler over ranks 0..n-1 (inverse CDF by binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      lo
    }
  }

  private val EnSyl = Array("ka", "ri", "to", "men", "sal", "dor", "vi", "lan", "qu", "bel",
    "tur", "ash", "om", "nid", "fe", "gar", "lo", "sen", "pha", "ru", "mi", "zel", "cor", "dun")
  private val ArLetters = "ابتثجحخدذرزسشصضطظعغفقكلمنهوي".toCharArray

  /** Distinct pseudo-words: syllable (or letter) strings of rising
    * length, seed-independent so every seed shares one vocabulary. */
  private def pseudoWords(n: Int, alphabet: Array[String], minParts: Int, salt: Long): Array[String] = {
    val r = new SplittableRandom(salt)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < n) {
      val parts = minParts + r.nextInt(3)
      seen.add((0 until parts).map(_ => alphabet(r.nextInt(alphabet.length))).mkString)
    }
    seen.toArray(new Array[String](0))
  }

  val EnThemes: Array[String] = Array("patience", "anger", "prayer", "charity", "fasting",
    "mercy", "parents", "neighbor", "truth", "knowledge", "modesty", "kindness",
    "repentance", "gratitude", "honesty", "orphans", "forgiveness", "humility",
    "generosity", "justice", "trust", "greed", "envy", "sincerity")
  val ArThemes: Array[String] = Array("الصبر", "الغضب", "الصلاة", "الصدقة", "الصيام",
    "الرحمة", "الوالدين", "الجار", "الصدق", "العلم", "الحياء", "الرفق", "التوبة",
    "الشكر", "الأمانة", "اليتيم", "المغفرة", "التواضع", "الكرم", "العدل", "الثقة",
    "الطمع", "الحسد", "الإخلاص")
  private val KnownNarrators = Array("Abu Hurairah", "Ibn 'Umar", "Aishah", "Anas bin Malik",
    "Abu Musa Al-Ash'ari", "Jabir bin 'Abdullah", "Ibn 'Abbas", "Abu Sa'id Al-Khudri",
    "'Umar bin Al-Khattab", "Abu Dharr", "Mu'adh bin Jabal", "An-Nu'man bin Bashir")

  lazy val enVocab: Array[String] = pseudoWords(4000, EnSyl, 2, 0x5eed01L)
  lazy val arVocab: Array[String] = pseudoWords(2500, ArLetters.map(_.toString), 3, 0x5eed02L)
  lazy val narrators: Array[String] =
    KnownNarrators ++ pseudoWords(108, EnSyl, 2, 0x5eed03L).map(w => s"Abu ${w.capitalize}")

  // ------------------------------------------------------------ hadith corpus

  final case class HadithDoc(docId: String, book: Int, num: Int, global: Int,
                             narrator: String, en: Array[String], ar: Array[String])

  /** One query of the serve mix. `expectDoc` is the doc an exact
    * reference must return; `sourceDoc` the doc a sourced query was
    * cut from (the self-recall denominator). */
  final case class Query(cls: String, text: String, mode: String, status: Int,
                         expectDoc: String, sourceDoc: String)

  val Slug = "riyadussalihin"
  val Books = 20

  /** The FIXTURES.md §1 hadith schema, `nDocs` rows over [[Books]] books
    * written as `book_<b>.jsonl`. Every row carries exactly one en and
    * one ar text, so every row passes `Ingest.validated`. */
  def hadithCorpus(seed: Long, nDocs: Int, dir: File): Array[HadithDoc] = {
    val r = new SplittableRandom(seed ^ 0x4ad1L)
    val enZ = new Zipf(enVocab.length, 1.05)
    val arZ = new Zipf(arVocab.length, 1.05)
    dir.mkdirs()
    val perBook = (nDocs + Books - 1) / Books
    val docs = Array.tabulate(nDocs) { i =>
      val book = 1 + i / perBook
      val num = 1 + i % perBook
      val narr = if (r.nextInt(20) == 0) null else narrators(r.nextInt(narrators.length))
      val theme = r.nextInt(EnThemes.length)
      val en = Array.fill(40 + r.nextInt(41))(enVocab(enZ.sample(r)))
      val ar = Array.fill(25 + r.nextInt(26))(arVocab(arZ.sample(r)))
      // the doc's theme word, in both languages, at two random positions
      for (_ <- 0 until 2) {
        en(r.nextInt(en.length)) = EnThemes(theme)
        ar(r.nextInt(ar.length)) = ArThemes(theme)
      }
      HadithDoc(s"$Slug:$book:h${1700000 + i}", book, num, i + 1, narr, en, ar)
    }
    for (b <- 1 to Books) {
      val w = writer(new File(dir, s"book_$b.jsonl"))
      try docs.iterator.filter(_.book == b).foreach { d =>
        w.write(mapper.writeValueAsString(hadithRow(d))); w.write('\n')
      } finally w.close()
    }
    docs
  }

  private def hadithRow(d: HadithDoc): ObjectNode = {
    val o = mapper.createObjectNode()
    val site = d.docId.substring(d.docId.lastIndexOf(':') + 1)
    val enText = d.en.mkString(" ").capitalize + "."
    val arText = d.ar.mkString(" ")
    o.put("collection_slug", Slug)
    o.put("collection_name", "Riyad as-Salihin")
    o.put("book_id", d.book.toString)
    o.put("book_title_en", s"The Book of ${EnThemes(d.book % EnThemes.length).capitalize}")
    o.put("book_title_ar", s"كتاب ${ArThemes(d.book % ArThemes.length)}")
    o.put("chapter_id", f"C${1 + d.num / 10}%d.00")
    o.put("chapter_number_en", (1 + d.num / 10).toString)
    o.put("chapter_number_ar", (1 + d.num / 10).toString)
    o.put("chapter_title_en", s"Chapter ${1 + d.num / 10}")
    o.put("chapter_title_ar", s"- باب ${1 + d.num / 10}")
    o.put("hadith_id_site", site)
    o.put("hadith_num_global", s"Riyad as-Salihin ${d.global}")
    o.put("hadith_num_in_book", s"Book ${d.book}, Hadith ${d.num}")
    val texts = o.putArray("texts")
    texts.addObject().put("language", "en").put("content", enText)
    texts.addObject().put("language", "ar").put("content", arText)
    if (d.narrator == null) o.putNull("narrator")
    else o.put("narrator", s"${d.narrator} (May Allah be pleased with him) reported:")
    o.putArray("grading")
    val refs = o.putArray("references")
    refs.addObject().put("label", "Reference").put("value", s"Riyad as-Salihin ${d.global}")
    refs.addObject().put("label", "In-book reference").put("value", s"Book ${d.book}, Hadith ${d.num}")
    o.putArray("topics")
    o.putArray("footnotes")
    o.put("source_url", s"https://sunnah.com/riyadussalihin:${d.global}#$site")
    o.put("scraped_at", f"2025-11-14T${d.global / 3600 % 24}%02d:${d.global / 60 % 60}%02d:${d.global % 60}%02dZ")
    o.put("checksum", sha256(Seq(Slug, d.book.toString, site, enText, arText).mkString("␟")))
    o
  }

  /** The serve query mix in the reference's 86-query category shares
    * (8 exact-ref, 10 narrator, 20 English thematic, 15 Arabic thematic,
    * 15 phrase, 10 mixed-language, 8 edge): `rounds` rounds of 86, each
    * in a seeded order, so every 86 consecutive requests keep the shares. */
  def queryMix(seed: Long, docs: Array[HadithDoc], rounds: Int): Array[Query] = {
    val r = new SplittableRandom(seed ^ 0x9e7L)
    def doc() = docs(r.nextInt(docs.length))
    // a doc's distinct words outside the most frequent ranks: what a
    // user who remembers a hadith would type
    def rare(ws: Array[String], vocab: Array[String], n: Int): Array[String] = {
      val common = vocab.take(300).toSet
      val pool = ws.distinct.filterNot(common)
      shuffle(pool, r).take(n)
    }
    val out = ArrayBuffer.empty[Query]
    for (_ <- 0 until rounds) {
      val round = ArrayBuffer.empty[Query]
      def add(q: Query): Unit = round += q
      for (i <- 0 until 8) {
        val d = doc()
        val text = if (i % 2 == 0) s"Riyad as-Salihin ${d.global}" else s"Book ${d.book}, Hadith ${d.num}"
        add(Query("exact_ref", text, "spec", 200, d.docId, null))
      }
      for (_ <- 0 until 10)
        add(Query("narrator", s"Hadith narrated by ${narrators(r.nextInt(narrators.length))}",
          "balanced", 200, null, null))
      for (i <- 0 until 20) {
        if (i % 4 == 3)
          add(Query("en_thematic", s"hadith about ${EnThemes(r.nextInt(EnThemes.length))} and its reward",
            "balanced", 200, null, null))
        else {
          val d = doc()
          add(Query("en_thematic", s"hadith about ${rare(d.en, enVocab, 4).mkString(" ")}",
            "balanced", 200, null, d.docId))
        }
      }
      for (i <- 0 until 15) {
        if (i % 3 == 2)
          add(Query("ar_thematic", s"أحاديث عن ${ArThemes(r.nextInt(ArThemes.length))}",
            "balanced", 200, null, null))
        else {
          val d = doc()
          add(Query("ar_thematic", rare(d.ar, arVocab, 4).mkString(" "), "balanced", 200, null, d.docId))
        }
      }
      for (_ <- 0 until 15) {
        val d = doc()
        val at = r.nextInt(d.en.length - 5)
        add(Query("phrase", "\"" + d.en.slice(at, at + 5).mkString(" ") + "\"", "balanced", 200, null, d.docId))
      }
      for (_ <- 0 until 10) {
        val t = r.nextInt(EnThemes.length)
        add(Query("mixed", s"hadith about ${ArThemes(t)} (${EnThemes(t)})", "balanced", 200, null, null))
      }
      val long = Array.fill(40)(enVocab(r.nextInt(enVocab.length))).mkString(" ")
      Seq("", "asdfghjkl", "حديثpatience模忍", "   ?!   ", "x", long, "!!!", "the the the the")
        .foreach(q => add(Query("edge", q, "balanced", if (q.isEmpty) 400 else 200, null, null)))
      out ++= shuffle(round.toArray, r)
    }
    out.toArray
  }

  // ------------------------------------------------------------- dedup corpus

  /** A near-dup of `ws`: one word replaced, one appended. Retried until
    * the distinct-token Jaccard is at least `minJ`. */
  private def nearDup(ws: Array[String], r: SplittableRandom, vocab: Array[String],
                      minJ: Double): Array[String] = {
    while (true) {
      val c = ws.clone()
      c(r.nextInt(c.length)) = vocab(r.nextInt(vocab.length))
      val d = c :+ vocab(r.nextInt(vocab.length))
      if (jaccard(ws, d) >= minJ) return d
    }
    throw new IllegalStateException
  }

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet; val sb = b.toSet
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  lazy val dedupVocab: Array[String] = pseudoWords(20000, EnSyl, 3, 0x5eed04L)

  final case class DedupCorpus(n: Int, nearPairs: Array[(Long, Long)], exactDups: Array[Long])
  final case class Drop(rows: Array[(Long, String)], dupIds: Set[Long])

  /** `nOrig` Zipf-vocabulary documents plus 4% injected near-dups
    * (Jaccard ≥ 0.9) and 2% exact dups, written as `corpus.jsonl`
    * rows {doc_id, text}. A dup always has a larger id than its
    * original, so the min-id survivor rule keeps the original. */
  def dedupCorpus(seed: Long, nOrig: Int, file: File): DedupCorpus = {
    val r = new SplittableRandom(seed ^ 0xded0L)
    val z = new Zipf(dedupVocab.length, 1.0)
    def fresh() = Array.fill(50 + r.nextInt(61))(dedupVocab(z.sample(r)))
    val docs = ArrayBuffer.tabulate(nOrig)(_ => fresh())
    val near = ArrayBuffer.empty[(Long, Long)]
    val exact = ArrayBuffer.empty[Long]
    for (_ <- 0 until nOrig / 25) {
      val o = r.nextInt(nOrig)
      near += (o.toLong -> docs.size.toLong); docs += nearDup(docs(o), r, dedupVocab, 0.9)
    }
    for (_ <- 0 until nOrig / 50) {
      val o = r.nextInt(nOrig)
      exact += docs.size.toLong; docs += docs(o).clone()
    }
    file.getParentFile.mkdirs()
    val w = writer(file)
    try docs.zipWithIndex.foreach { case (ws, i) =>
      w.write(mapper.writeValueAsString(mapper.createObjectNode()
        .put("doc_id", i.toLong).put("text", ws.mkString(" "))))
      w.write('\n')
    } finally w.close()
    DedupCorpus(docs.size, near.toArray, exact.toArray)
  }

  /** Delta drops for the streaming ingest: drop k holds `size` rows with
    * ids `base + k·size + j`; about 15% are near-dups of novel docs of
    * EARLIER drops and 15% near-dups of novel docs earlier in the same
    * drop (always a larger id). `dupIds` are the rows the store must
    * never receive. */
  def drops(seed: Long, k: Int, size: Int, base: Long): Array[Drop] = {
    val r = new SplittableRandom(seed ^ 0xd2095L)
    val z = new Zipf(dedupVocab.length, 1.0)
    val novel = ArrayBuffer.empty[Array[String]]
    Array.tabulate(k) { d =>
      val rows = ArrayBuffer.empty[(Long, String)]
      val dups = Set.newBuilder[Long]
      val mine = ArrayBuffer.empty[Array[String]]
      for (j <- 0 until size) {
        val id = base + d.toLong * size + j
        val u = r.nextInt(100)
        val ws =
          if (u < 15 && novel.nonEmpty) { dups += id; nearDup(novel(r.nextInt(novel.size)), r, dedupVocab, 0.9) }
          else if (u < 30 && mine.nonEmpty) { dups += id; nearDup(mine(r.nextInt(mine.size)), r, dedupVocab, 0.9) }
          else { val f = Array.fill(50 + r.nextInt(61))(dedupVocab(z.sample(r))); mine += f; f }
        rows += (id -> ws.mkString(" "))
      }
      novel ++= mine
      Drop(rows.toArray, dups.result())
    }
  }

  // ------------------------------------------------------------------ vectors

  final case class Vectors(dim: Int, base: Array[Array[Float]], delta: Array[Array[Float]],
                           probes: Array[Array[Float]])

  /** A `clusters`-component Gaussian mixture in `dim` dimensions: base,
    * delta and held-out probe vectors all drawn from it, written as
    * little-endian float32 files `base.f32`, `delta.f32`, `probes.f32`. */
  def vectors(seed: Long, dim: Int, nBase: Int, nDelta: Int, nProbe: Int,
              clusters: Int, dir: File): Vectors = {
    val r = new SplittableRandom(seed ^ 0x7ecL)
    def gauss(): Double = { // Box-Muller, one draw per call
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centers = Array.fill(clusters, dim)(gauss())
    def draw(n: Int) = Array.fill(n) {
      val c = centers(r.nextInt(clusters))
      Array.tabulate(dim)(i => (c(i) + 1.2 * gauss()).toFloat)
    }
    val v = Vectors(dim, draw(nBase), draw(nDelta), draw(nProbe))
    dir.mkdirs()
    Seq("base" -> v.base, "delta" -> v.delta, "probes" -> v.probes).foreach { case (n, rows) =>
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(new File(dir, s"$n.f32"))))
      try rows.foreach(_.foreach(x => out.writeInt(Integer.reverseBytes(java.lang.Float.floatToIntBits(x)))))
      finally out.close()
    }
    v
  }

  // ------------------------------------------------------------------ helpers

  def shuffle[T](a: Array[T], r: SplittableRandom): Array[T] = {
    val c = a.clone()
    for (i <- c.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = c(i); c(i) = c(j); c(j) = t
    }
    c
  }

  private def writer(f: File) = new OutputStreamWriter(new BufferedOutputStream(new FileOutputStream(f)), UTF_8)

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** sha256 over every file under `dir`, in path order: the determinism
    * fingerprint of one generator's output. */
  def digestDir(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(dir).foreach { f =>
      md.update(dir.toPath.relativize(f.toPath).toString.getBytes(UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
