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

  test("operators and streaming read no environment variables") {
    val envRead = """sys\.env|System\.getenv""".r
    val dirs = Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming")
      .map(new java.io.File(_))
    dirs.foreach(d => assert(scalaFiles(d).nonEmpty, s"no sources under $d"))
    val hits = for {
      f <- dirs.flatMap(scalaFiles)
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toVector).zipWithIndex
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
    val lines = scala.util.Using.resource(scala.io.Source.fromFile(src, "UTF-8"))(
      _.getLines().toVector)
    // a member's definition runs from its declaration to the next
    // top-level member, scaladoc or comment of the object
    val memberStart = """^  (private |val |def |lazy |/\*\*|//)""".r
    def extent(name: String): Range = {
      val decl = s"""^  private (lazy )?(val|def) $name\\b""".r
      val d = lines.indexWhere(l => decl.findFirstIn(l).isDefined)
      assert(d >= 0, s"builder $name not found in $src")
      val end = lines.indexWhere(l => memberStart.findFirstIn(l).isDefined || l == "}", d + 1)
      d until (if (end < 0) lines.size else end)
    }
    val problems = families.flatMap { case (marker, builder) =>
      val inside = extent(builder)
      val hits = lines.indices.filter(i => lines(i).contains(marker))
      val stray = hits.filterNot(inside.contains)
        .map(i => s"$src:${i + 1}: `$marker` outside $builder: ${lines(i).trim}")
      if (!hits.exists(inside.contains)) s"$builder no longer spells `$marker`" +: stray
      else stray
    }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }
}
