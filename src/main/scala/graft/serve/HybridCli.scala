package graft.serve

import graft.Graft
import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

/** Interactive hybrid-search REPL — the reference's
  * `apps/hybrid_cli.py` (and, via `:mode fts`-style presets, the
  * fts_cli tester). One query per line; `:k N` and `:mode M` adjust
  * state; `:json` toggles raw-envelope output; EOF or `exit` quits.
  * Streams are injected for tests; `main` wires stdin/stdout. */
object HybridCli {
  def run(in: InputStream, out: OutputStream, eng: Graft.HadithEngine,
          n0: Int = 5, mode0: String = "balanced"): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    val w = new PrintWriter(out, true, UTF_8)
    var n = n0; var mode = mode0; var json = false
    w.println(s"graft hybrid cli — k=$n mode=$mode (:k N, :mode M, :json, exit)")
    var line = reader.readLine()
    while (line != null && line.trim != "exit") {
      val q = line.trim
      if (q.startsWith(":k ")) {
        q.drop(3).trim.toIntOption.foreach(v => n = math.max(1, v))
        w.println(s"k=$n")
      } else if (q.startsWith(":mode ")) {
        mode = q.drop(6).trim; w.println(s"mode=$mode")
      } else if (q == ":json") {
        json = !json; w.println(s"json=$json")
      } else if (q.nonEmpty) {
        val t0 = System.nanoTime()
        val env = ServeJson.searchEnvelopeTyped(eng, q, n, mode)
        val dtMs = (System.nanoTime() - t0) / 1e6
        if (json) {
          env.put("time_ms", math.round(dtMs * 100.0) / 100.0)
          w.println(env.toString)
        } else {
          w.println(f"intent=${env.get("intent").asText} mode=$mode time_ms=$dtMs%.1f candidates=${env.get("total_candidates").asInt}")
          val hits = env.get("hits")
          (0 until hits.size()).foreach { i =>
            val h = hits.get(i)
            w.println(f" ${i + 1}. ${h.get("doc_id").asText} score=${h.get("score").asDouble}%.3f narrator=${Option(h.get("narrator")).map(_.asText).getOrElse("")}")
            w.println(s"     breakdown=${h.get("breakdown")}")
            Option(h.get("snippet")).foreach(s => w.println(s"     snippet=${s.asText.take(200)}"))
          }
        }
      }
      line = reader.readLine()
    }
  }

  /** runMain graft.serve.HybridCli [booksGlob] [k] [mode] */
  def main(args: Array[String]): Unit = {
    val glob = args.headOption.getOrElse(graft.Queries.HadithBooks)
    val spark = graft.GraftSession.local("graft-cli")
    val eng = Graft.openHadith(spark, glob)
    graft.GraftSession.tuneForServing(spark)
    eng.searchTyped("warm", 1) // build the resident layers before the prompt
    run(System.in, System.out, eng,
      args.lift(1).flatMap(_.toIntOption).getOrElse(5),
      args.lift(2).getOrElse("balanced"))
    spark.stop()
  }
}
