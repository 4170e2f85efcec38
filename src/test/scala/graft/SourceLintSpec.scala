package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level rules the compiler cannot check. Operators and streaming
  * jobs take every setting as a parameter: deployment settings are read
  * by the mains and [[GraftSession]], never by the code they call, so an
  * operator behaves the same under every environment. */
class SourceLintSpec extends AnyFunSuite {
  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  private def linesOf(f: java.io.File): Vector[String] =
    scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toVector)

  /** The lines of object member `name` in `src`: from its declaration
    * to the next top-level member, scaladoc or comment of the object. */
  private def extent(lines: Vector[String], src: java.io.File, name: String): Range = {
    val memberStart = """^  (private|val |def |lazy |/\*\*|//)""".r
    val decl = s"""^  (private(\\[\\w+\\])? )?(lazy )?(val|def) $name\\b""".r
    val d = lines.indexWhere(l => decl.findFirstIn(l).isDefined)
    assert(d >= 0, s"member $name not found in $src")
    val end = lines.indexWhere(l => memberStart.findFirstIn(l).isDefined || l == "}", d + 1)
    d until (if (end < 0) lines.size else end)
  }

  test("operators and streaming read no environment variables") {
    val envRead = """sys\.env|System\.getenv""".r
    val dirs = Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming")
      .map(new java.io.File(_))
    dirs.foreach(d => assert(scalaFiles(d).nonEmpty, s"no sources under $d"))
    val hits = for {
      f <- dirs.flatMap(scalaFiles)
      (line, i) <- linesOf(f).zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("environment read in an operator:\n", "\n", ""))
  }

  test("each shared oracle SQL fragment is spelled only inside its one builder") {
    // marker substring -> the Oracles member whose definition alone may
    // spell it; a twin change then edits one place
    val families = Seq(
      "string_agg(minh::VARCHAR" -> "bandKeysCtes",          // banded MinHash keys
      ".band_key=" -> "bandPairsCte",                         // LSH candidate joins
      "len(list_distinct(t)) n FROM" -> "TokenSetsCte",       // token-set sizes
      "list_intersect(x.s,y.s)" -> "verifyJacc",              // exact-Jaccard verify
      "UNION ALL SELECT b, a FROM" -> "componentsCtes",       // min-label closure
      "'string_agg','_'" -> "shingleSql",                     // word n-gram shingles
      "StopwordsEn" -> "StopEn",                              // English stopword literal
      "AS DOUBLE)/len(t),6)" -> "ratio6",                     // rounded token ratios
      "list_transform(t, x -> len(x))" -> "SumTokLen",
      "'too_short'" -> "QualityReasons",                      // quality cascade
      "union_by_name=true" -> "HadithRead",                   // hadith corpus read
      "t -> t.language))) = ['ar','en']" -> "BilingualPred",
      "ln((n_docs - df + 0.5)" -> "bm25Sum",                  // BM25 term
      "CASE WHEN bm25 IS NOT NULL" -> "FtsSignal",            // hybrid fts signal
      "FULL OUTER JOIN vec v" -> "vectorFuseCtes",            // hybrid vector leg
      "qv qq FROM e WHERE vec_id=0" -> "ProbeQ",              // ANN probe row
      "${cosQ(\"qv\", \"qq\")} cos FROM" -> "exactTopKSql",   // exact-cosine top-k
      "min(t) t1 FROM ev" -> "funnelSql")                     // events funnel
    val src = new java.io.File("src/main/scala/graft/Oracles.scala")
    val lines = linesOf(src)
    val problems = families.flatMap { case (marker, builder) =>
      val inside = extent(lines, src, builder)
      val hits = lines.indices.filter(i => lines(i).contains(marker))
      val stray = hits.filterNot(inside.contains)
        .map(i => s"$src:${i + 1}: `$marker` outside $builder: ${lines(i).trim}")
      if (!hits.exists(inside.contains)) s"$builder no longer spells `$marker`" +: stray
      else stray
    }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  test("each shared ANN probe tail is spelled only inside its one helper") {
    // marker substring -> the Similarity members whose definitions
    // alone may spell it anywhere in src/main
    val tails = Seq(
      """partitionBy(col("probe_id"))""" -> Seq("perProbeTopK"), // per-probe top-k window
      "sq8Max(" -> Seq("sq8Max", "sq8Coded"))                    // SQ8 coding, zero-norm drop
    val home = new java.io.File("src/main/scala/graft/operators/Similarity.scala")
    val homeLines = linesOf(home)
    val sources = scalaFiles(new java.io.File("src/main/scala"))
    val problems = tails.flatMap { case (marker, helpers) =>
      val inside = helpers.flatMap(extent(homeLines, home, _)).toSet
      val hits = for {
        f <- sources
        (line, i) <- linesOf(f).zipWithIndex
        if line.contains(marker)
      } yield (f.getPath == home.getPath && inside(i), s"$f:${i + 1}: ${line.trim}")
      val stray = hits.collect { case (false, at) =>
        s"`$marker` outside ${helpers.mkString("/")}: $at" }
      if (!hits.exists(_._1)) s"${helpers.mkString("/")} no longer spell `$marker`" +: stray
      else stray
    }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }
}
