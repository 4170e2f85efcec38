package graft.perfbench

import java.io.File
import java.nio.file.Files

/** The benchmark's own tests (no Spark needed):
  * `python3 perfbench/run.py --selftest`. Exits non-zero on a failure. */
object SelfTest {
  private var failures = 0
  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val tmp = Files.createTempDirectory(new File(args.headOption.getOrElse(".")).toPath, "selftest").toFile
    try {
      determinism(tmp); percentileRule(); openLoop(); checksReject(); selfTime()
    } finally deleteTree(tmp)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** Same seed → byte-identical inputs; another seed → other inputs. */
  private def determinism(tmp: File): Unit = {
    def gens(seed: Long, d: File): Map[String, String] = {
      val h = Gen.hadithCorpus(seed, 400, new File(d, "hadith"))
      val qs = Gen.queryMix(seed, h, 2)
      val dc = Gen.dedupCorpus(seed, 300, new File(d, "dedup/corpus.jsonl"))
      val dr = Gen.drops(seed, 3, 40, 1000L)
      Gen.vectors(seed, 8, 100, 10, 5, 4, new File(d, "vec"))
      Map("hadith" -> Gen.digestDir(new File(d, "hadith")),
        "queries" -> Gen.sha256(qs.mkString("\n")),
        "dedup" -> (Gen.digestDir(new File(d, "dedup")) + dc.nearPairs.mkString + dc.exactDups.mkString),
        "drops" -> Gen.sha256(dr.map(x => x.rows.mkString + x.dupIds.toSeq.sorted.mkString).mkString),
        "vectors" -> Gen.digestDir(new File(d, "vec")))
    }
    val a = gens(7, new File(tmp, "a")); val b = gens(7, new File(tmp, "b")); val c = gens(8, new File(tmp, "c"))
    a.keys.toSeq.sorted.foreach { k =>
      expect(s"generator $k: same seed gives identical inputs", a(k) == b(k))
      expect(s"generator $k: another seed gives other inputs", a(k) != c(k))
    }
    val h = Gen.hadithCorpus(7, 400, new File(tmp, "h2"))
    expect("every delta drop after the first carries injected dups",
      Gen.drops(7, 3, 40, 1000L).drop(1).forall(_.dupIds.nonEmpty))
    val texts = scala.io.Source.fromFile(new File(tmp, "a/dedup/corpus.jsonl"), "UTF-8").getLines()
      .map(l => new com.fasterxml.jackson.databind.ObjectMapper().readTree(l).get("text").asText.split(" ")).toArray
    val dc = Gen.dedupCorpus(7, 300, new File(tmp, "d2/corpus.jsonl"))
    expect("injected near-dup pairs have token Jaccard >= 0.9",
      dc.nearPairs.nonEmpty && dc.nearPairs.forall { case (a, b) => Gen.jaccard(texts(a.toInt), texts(b.toInt)) >= 0.9 })
    expect("every exact-ref query names an existing doc",
      Gen.queryMix(7, h, 2).filter(_.cls == "exact_ref").forall(q => h.exists(_.docId == q.expectDoc)))
  }

  /** Highest percentile with at least 10 samples beyond it. */
  private def percentileRule(): Unit = {
    expect("tail rule: 10000 samples -> p99.9", Stats.tailPct(10000).contains(99.9))
    expect("tail rule: 1000 samples -> p99", Stats.tailPct(1000).contains(99.0))
    expect("tail rule: 999 samples -> p95", Stats.tailPct(999).contains(95.0))
    expect("tail rule: 20 samples -> p50", Stats.tailPct(20).contains(50.0))
    expect("tail rule: 19 samples -> none", Stats.tailPct(19).isEmpty)
    val xs = (1 to 100).map(_.toDouble)
    expect("nearest-rank p50 of 1..100 is 50", Stats.pct(xs, 50) == 50.0)
    expect("nearest-rank p99 of 1..100 is 99", Stats.pct(xs, 99) == 99.0)
  }

  /** A 200 ms stall of the first request is charged to every request
    * scheduled during it, counted from the scheduled send time. */
  private def openLoop(): Unit = {
    val p = Load.openLoop(rate = 200, durS = 0.5, conns = 1, seed = 1) { (_, i) =>
      if (i == 0) Thread.sleep(200); 0
    }
    val stalled = (0 until p.n).filter(i => p.sched(i) < p.sched(0) + 150e6.toLong)
    expect("open loop: requests queued behind a stall include the wait",
      stalled.size > 5 && stalled.forall(i => p.end(i) - p.sched(i) >= 200e6.toLong - (p.sched(i) - p.sched(0)) - 2e6.toLong))
    expect("open loop: service time alone would hide the stall",
      stalled.drop(1).forall(i => p.end(i) - p.start(i) < 50e6.toLong))
    expect("open loop: lateness is reported", p.lateMs.drop(1).head > 50)
    val (codes, secs) = Load.closedLoop(durS = 0.3, conns = 2) { (_, _) => Thread.sleep(10); 7 }
    expect("closed loop: each worker sends back to back",
      codes.length >= 40 && codes.length <= 62 && codes.forall(_ == 7) && secs >= 0.3)
  }

  /** Every output check rejects a deliberately wrong result. */
  private def checksReject(): Unit = {
    def env(ids: String*) = ids.map(i => s"""{"doc_id":"$i","score":0.5}""").mkString("""{"hits":[""", ",", "]}")
    val exact = Gen.Query("exact_ref", "Riyad as-Salihin 3", "spec", 200, "c:1:h3", null)
    val empty = Gen.Query("edge", "", "balanced", 400, null, null)
    val sourced = Gen.Query("phrase", "\"a b c d e\"", "balanced", 200, null, "c:1:h9")
    expect("serve check accepts the expected doc", Checks.serveOutcome(exact, 200, env("c:1:h3"))._1)
    expect("serve check rejects a wrong exact-ref doc", !Checks.serveOutcome(exact, 200, env("c:1:h4"))._1)
    expect("serve check rejects an exact-ref with no hits", !Checks.serveOutcome(exact, 200, env())._1)
    expect("serve check accepts 400 for an empty query", Checks.serveOutcome(empty, 400, """{"error":"x"}""")._1)
    expect("serve check rejects 200 for an empty query", !Checks.serveOutcome(empty, 200, env())._1)
    expect("serve check rejects a 500", !Checks.serveOutcome(sourced, 500, "")._1)
    expect("serve check rejects a timeout", !Checks.serveOutcome(sourced, -1, "")._1)
    expect("sourced recall counts a hit", Checks.serveOutcome(sourced, 200, env("x", "c:1:h9"))._2 == 1)
    expect("sourced recall counts a miss", Checks.serveOutcome(sourced, 200, env("x"))._2 == 0)
    val s = Seq("a" -> 0.9, "b" -> 0.5)
    expect("envelope check accepts equal hits", Checks.sameHits(s, s))
    expect("envelope check rejects reordered hits", !Checks.sameHits(s.reverse, s))
    expect("envelope check rejects a wrong score", !Checks.sameHits(Seq("a" -> 0.9, "b" -> 0.51), s))
    expect("envelope check rejects a missing hit", !Checks.sameHits(s.take(1), s))
    expect("dedup count check rejects a lost doc", !Checks.survivorsAddUp(100, 90, 9))
    expect("dedup count check accepts a full count", Checks.survivorsAddUp(100, 90, 10))
    expect("exact-dup check rejects a surviving dup", !Checks.exactDupsRemoved(Set(1L, 5L), Seq(5L)))
    val drops = Seq(Gen.Drop(Array(1L -> "a", 2L -> "a"), Set(2L)), Gen.Drop(Array(3L -> "b"), Set.empty))
    expect("store check accepts exactly the novel docs", Checks.storeIsNovel(Set(1L, 3L), drops))
    expect("store check rejects an injected dup", !Checks.storeIsNovel(Set(1L, 2L, 3L), drops))
    expect("store check rejects a lost novel doc", !Checks.storeIsNovel(Set(1L), drops))
    expect("append check rejects a grown index", !Checks.appendIdempotent(10, 11))
    val exactNn = Seq(Seq(1L, 2L), Seq(3L, 4L))
    expect("recall is 1 for exact lists", Checks.recallAtK(exactNn, exactNn, 2) == 1.0)
    expect("recall drops for a wrong list", Checks.recallAtK(Seq(Seq(1L, 9L), Seq(3L, 4L)), exactNn, 2) == 0.75)
    val rows = Array(Array(1f, 0f), Array(0f, 1f), Array(0.9f, 0.1f))
    expect("brute force ranks by cosine",
      Checks.bruteTopK(rows, rows.map(Checks.norm), Array(1f, 0f), 2) == Seq(0L, 2L))
  }

  /** Self time is the span minus the union of its children. */
  private def selfTime(): Unit = {
    val tr = new Tracer(false, null)
    val p = tr.Span(1, "p", 0, 0, 0, 100)
    val kids = Seq(tr.Span(2, "a", 1, 0, 10, 40), tr.Span(3, "b", 1, 0, 30, 50), tr.Span(4, "c", 1, 0, 90, 120))
    expect("self time subtracts the union of overlapping children", tr.selfNs(p, kids) == 100 - 40 - 10)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(): Unit
  }
}
