package graft.serve

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.Graft
import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

/** MCP stdio transport — the reference's SDK-based server
  * (mcp_server/mcp_stdio.py:57-146) as a dependency-free JSON-RPC 2.0
  * loop over newline-delimited messages (the MCP stdio framing).
  * Handles `initialize`, `tools/list`, `tools/call`; notifications are
  * acknowledged silently; unknown methods answer -32601. Tools mirror
  * the reference's set (hybrid_search, fts_status, vector_index_status)
  * plus the quran pair (get_verse, search_tafsir) when a quran engine
  * is wired. Streams are injected so the loop is unit-testable; `main`
  * wires real stdin/stdout. */
object McpStdio {
  import ServeJson.{arr, err, mapper, obj}

  private def toolDefs(hasQuran: Boolean): ArrayNode = {
    def tool(name: String, desc: String, props: (String, String)*): ObjectNode = {
      val t = obj()
      t.put("name", name); t.put("description", desc)
      val schema = obj(); schema.put("type", "object")
      val ps = obj()
      props.foreach { case (k, ty) => val p = obj(); p.put("type", ty); ps.set[ObjectNode](k, p) }
      schema.set[ObjectNode]("properties", ps)
      val req = arr(); if (props.exists(_._1 == "query")) req.add("query")
      if (props.exists(_._1 == "verse_key")) req.add("verse_key")
      schema.set[ArrayNode]("required", req)
      t.set[ObjectNode]("inputSchema", schema)
      t
    }
    val ts = arr()
    ts.add(tool("hybrid_search", "Hybrid search over hadith corpus",
      "query" -> "string", "n_results" -> "integer", "mode" -> "string"))
    ts.add(tool("fts_status", "FTS index status"))
    ts.add(tool("vector_index_status", "Vector index status"))
    ts.add(tool("fts_match", "Field-scoped lexical (BM25) match",
      "en" -> "string", "ar" -> "string", "narrator" -> "string",
      "limit" -> "integer"))
    if (hasQuran) {
      ts.add(tool("get_verse", "Tafsir entries for a verse key",
        "verse_key" -> "string"))
      ts.add(tool("search_tafsir", "Hybrid search over tafsir corpus",
        "query" -> "string", "n_results" -> "integer", "mode" -> "string"))
    }
    ts
  }

  private def textResult(data: JsonNode): ObjectNode = {
    val r = obj()
    val content = arr()
    val t = obj(); t.put("type", "text"); t.put("text", data.toString)
    content.add(t)
    r.set[ArrayNode]("content", content)
    r.set[JsonNode]("structuredContent", data)
    r
  }

  private[serve] def callTool(name: String, args: JsonNode,
                              hadith: Graft.HadithEngine,
                              quran: Option[Graft.QuranEngine]): ObjectNode = {
    def str(k: String, d: String = "") =
      Option(args.get(k)).map(_.asText()).getOrElse(d)
    def int(k: String, d: Int) = Option(args.get(k)).map(_.asInt()).getOrElse(d)
    name match {
      case "hybrid_search" =>
        // typed resident path: sub-ms once warm, zero Spark jobs
        textResult(ServeJson.searchEnvelopeTyped(hadith, str("query"),
          int("n_results", 10), str("mode", "balanced")))
      case "fts_status" => textResult(ServeJson.ftsStatus(hadith))
      case "vector_index_status" => textResult(ServeJson.vectorStatus(hadith))
      case "fts_match" =>
        // the reference's FTS5 MATCH tool (mcp_stdio.py:156-191):
        // per-field term probes AND-ed across the provided fields,
        // ranked by summed BM25 — served through the engine's typed
        // resident probe (zero Spark jobs warm; distributed fallback
        // on over-bound corpora)
        val legs = Seq("en" -> str("en"), "ar" -> str("ar"),
          "narrator" -> str("narrator")).filter(_._2.nonEmpty)
        if (legs.isEmpty)
          textResult(err("Provide en/ar/narrator"))
        else {
          val hits = hadith.ftsMatchTyped(legs, int("limit", 10))
          val o = obj()
          o.put("match", legs.map { case (f, t) => s"$f:$t" }.mkString(" AND "))
          val hs = arr()
          hits.foreach { h =>
            val hn = obj()
            hn.put("doc_id", h.docId)
            if (h.narrator != null) hn.put("narrator", h.narrator)
            if (h.snippet != null) hn.put("snippet", h.snippet)
            hn.put("bm25", h.bm25)
            hs.add(hn)
          }
          o.set[ArrayNode]("hits", hs)
          textResult(o)
        }
      case "get_verse" if quran.isDefined =>
        val hits = arr()
        quran.get.getVerseTyped(str("verse_key")).foreach { h =>
          val o = obj()
          o.put("verse_key", h.verseKey); o.put("surah", h.surah)
          o.put("ayah", h.ayah); o.put("resource_id", h.resourceId)
          o.put("resource_name", h.resourceName); o.put("text", h.textPlain)
          hits.add(o)
        }
        val o = obj(); o.set[ArrayNode]("entries", hits); textResult(o)
      case "search_tafsir" if quran.isDefined =>
        val hits = quran.get.searchTyped(str("query"), int("n_results", 5),
          str("mode", "fts"))
        val o = obj(); o.set[ArrayNode]("hits", ServeJson.tafsirHitsJson(hits))
        textResult(o)
      case other =>
        val r = textResult(err(s"unknown tool $other")); r.put("isError", true); r
    }
  }

  /** One JSON-RPC request → response node (None for notifications). */
  private[serve] def dispatch(req: JsonNode, hadith: Graft.HadithEngine,
                              quran: Option[Graft.QuranEngine]): Option[ObjectNode] = {
    val id = Option(req.get("id"))
    val method = Option(req.get("method")).map(_.asText()).getOrElse("")
    if (id.isEmpty) return None // notification — no response by JSON-RPC 2.0
    def reply(result: JsonNode): ObjectNode = {
      val r = obj(); r.put("jsonrpc", "2.0"); r.set[JsonNode]("id", id.get)
      r.set[JsonNode]("result", result); r
    }
    def error(code: Int, msg: String): ObjectNode = {
      val r = obj(); r.put("jsonrpc", "2.0"); r.set[JsonNode]("id", id.get)
      val e = obj(); e.put("code", code); e.put("message", msg)
      r.set[ObjectNode]("error", e); r
    }
    method match {
      case "initialize" =>
        val res = obj()
        res.put("protocolVersion",
          Option(req.at("/params/protocolVersion").asText(null))
            .filter(_ != null).getOrElse("2024-11-05"))
        val caps = obj(); caps.set[ObjectNode]("tools", obj())
        res.set[ObjectNode]("capabilities", caps)
        val info = obj(); info.put("name", "graft-mcp"); info.put("version", "1.0")
        res.set[ObjectNode]("serverInfo", info)
        Some(reply(res))
      case "ping" => Some(reply(obj()))
      case "tools/list" =>
        val res = obj(); res.set[ArrayNode]("tools", toolDefs(quran.isDefined))
        Some(reply(res))
      case "tools/call" =>
        val name = req.at("/params/name").asText("")
        val args = Option(req.at("/params/arguments"): JsonNode)
          .filter(!_.isMissingNode).getOrElse(obj())
        try Some(reply(callTool(name, args, hadith, quran)))
        catch { case e: Throwable => Some(error(-32603, e.toString)) }
      case other => Some(error(-32601, s"method not found: $other"))
    }
  }

  /** Blocking serve loop over newline-delimited JSON-RPC. */
  def serve(in: InputStream, out: OutputStream, hadith: Graft.HadithEngine,
            quran: Option[Graft.QuranEngine] = None): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    val writer = new PrintWriter(out, true, UTF_8)
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        val resp =
          try dispatch(mapper.readTree(line), hadith, quran)
          catch {
            case e: Throwable =>
              val r = obj(); r.put("jsonrpc", "2.0"); r.putNull("id")
              val er = obj(); er.put("code", -32700); er.put("message", e.toString)
              r.set[ObjectNode]("error", er); Some(r)
          }
        resp.foreach(r => writer.println(r.toString))
      }
      line = reader.readLine()
    }
  }

  /** `python3 -m mcp_server.mcp_stdio` analog:
    * runMain graft.serve.McpStdio [booksGlob] [quranDir] */
  def main(args: Array[String]): Unit = {
    val glob = args.headOption.getOrElse(graft.Queries.HadithBooks)
    val spark = graft.GraftSession.local("graft-mcp")
    val hadith = Graft.openHadith(spark, glob)
    val quran = args.lift(1).map(dir => Graft.openQuran(spark, dir))
    graft.GraftSession.tuneForServing(spark)
    hadith.searchTyped("warm", 1) // build the resident layers before traffic
    quran.foreach(_.searchTyped("warm", 1))
    serve(System.in, System.out, hadith, quran)
  }
}
