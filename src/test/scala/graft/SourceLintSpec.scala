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
}
