package graft

import graft.serve.{HttpTransport, HybridCli, McpStdio}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** Transports (HTTP / MCP stdio / CLI) — the reference's
  * http_server.py, mcp_stdio.py, apps/hybrid_cli.py surfaces. Unit-only
  * (side-effecting servers; no DuckDB oracle is possible), like S6-S8:
  * each transport is driven end-to-end against a real engine and its
  * payloads parsed back. */
class ServeTransportsSpec extends SparkSpec {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private lazy val eng =
    Graft.openHadith(spark, "/root/reference/data/riyadussalihin/book_1.jsonl")
  private lazy val quran =
    Graft.openQuran(spark, "/root/reference/data/quran", None)

  test("http transport serves health, statuses, hybrid search, and 400/404s") {
    val t = new HttpTransport(Map("riyadussalihin" -> eng), port = 0)
    try {
      val base = s"http://127.0.0.1:${t.boundPort}"
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
          HttpResponse.BodyHandlers.ofString())

      assert(get("/health").statusCode() === 200)
      val vs = mapper.readTree(get("/api/riyadussalihin/status/vector").body())
      assert(vs.get("documents").asLong === 47L)
      assert(vs.get("dimension").asInt === 128)
      val fs = mapper.readTree(get("/api/riyadussalihin/status/fts").body())
      assert(fs.get("terms_per_field").get("en").asLong > 100L)

      val res = post("/api/riyadussalihin/search/hybrid",
        """{"query":"Hadith narrated by Abu Hurairah","n_results":3}""")
      assert(res.statusCode() === 200)
      val env = mapper.readTree(res.body())
      assert(env.get("intent").asText === "narrator")
      assert(env.get("hits").size() > 0)
      val hit = env.get("hits").get(0)
      assert(hit.get("doc_id").asText.startsWith("riyadussalihin:"))
      assert(hit.get("breakdown").has("fts_signal"))
      // parity with the engine's own DataFrame result
      val direct = eng.search("Hadith narrated by Abu Hurairah", 3).collect()
      assert(env.get("hits").size() === direct.length)
      assert(hit.get("doc_id").asText === direct.head.getAs[String]("doc_id"))

      assert(post("/api/riyadussalihin/search/hybrid", "{}").statusCode() === 400)
      val bad = post("/api/riyadussalihin/search/hybrid", """{"query": "x",""")
      assert(bad.statusCode() === 400)
      assert(!bad.body().contains("Exception"))
      assert(post("/api/nope/search/hybrid", """{"query":"x"}""").statusCode() === 404)
      assert(get("/api/riyadussalihin/unknown").statusCode() === 404)
    } finally t.stop()
  }

  test("hybrid search body parse: 400 for malformed JSON, missing query, non-integer n_results") {
    import HttpTransport.parseHybrid
    assert(parseHybrid("""{"query":"patience","n_results":3,"mode":"spec"}""") ===
      Right(("patience", 3, "spec")))
    assert(parseHybrid("""{"query":"patience"}""") === Right(("patience", 10, "balanced")))
    assert(parseHybrid("""{"query": "x",""") === Left("Malformed JSON body"))
    assert(parseHybrid("") === Left("Missing 'query'"))
    assert(parseHybrid("""{"n_results":3}""") === Left("Missing 'query'"))
    Seq("\"3\"", "2.5", "null", "10000000000").foreach { n =>
      assert(parseHybrid(s"""{"query":"x","n_results":$n}""") ===
        Left("'n_results' must be an integer"), n)
    }
  }

  test("http keep-alive requests see no delayed-ACK stall (median < 15 ms over 200)") {
    // a plain client: one socket, no quick-ACK option, each request
    // written only after the previous response was read in full
    val t = new HttpTransport(Map.empty, port = 0)
    val sock = try new java.net.Socket("127.0.0.1", t.boundPort)
      catch { case e: Throwable => t.stop(); throw e }
    try {
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val req = "GET /health HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(UTF_8)
      def readResponse(): String = {
        val head = new StringBuilder
        while (!head.toString.endsWith("\r\n\r\n")) {
          val b = in.read(); assert(b >= 0, "connection closed"); head += b.toChar
        }
        val len = "(?i)content-length: *(\\d+)".r.findFirstMatchIn(head)
          .map(_.group(1).toInt).getOrElse(0)
        new String(in.readNBytes(len), UTF_8)
      }
      val ms = (0 until 200).map { _ =>
        val t0 = System.nanoTime()
        out.write(req); out.flush()
        assert(readResponse() === """{"ok":true}""")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(100) < 15.0, f"median keep-alive request took ${ms(100)}%.1f ms")
    } finally { sock.close(); t.stop() }
  }

  test("mcp stdio transport answers initialize, tools/list, tools/call over jsonrpc") {
    val requests = Seq(
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2024-11-05"}}""",
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""",
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"hybrid_search","arguments":{"query":"modesty and shyness","n_results":2}}}""",
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{"name":"get_verse","arguments":{"verse_key":"1:1"}}}""",
      """{"jsonrpc":"2.0","id":5,"method":"nope"}""",
      """{"jsonrpc":"2.0","id":6,"method":"tools/call","params":{"name":"fts_match","arguments":{"en":"modesty","narrator":"umar","limit":3}}}""").mkString("", "\n", "\n")
    val out = new ByteArrayOutputStream()
    McpStdio.serve(new ByteArrayInputStream(requests.getBytes(UTF_8)), out,
      eng, Some(quran))
    val lines = out.toString(UTF_8).split("\n").filter(_.nonEmpty).map(mapper.readTree)
    // notification produced no response: 6 responses for 7 messages
    assert(lines.length === 6)
    val byId = lines.map(l => l.get("id").asInt -> l).toMap
    assert(byId(1).at("/result/serverInfo/name").asText === "graft-mcp")
    val tools = byId(2).at("/result/tools")
    val names = (0 until tools.size()).map(tools.get(_).get("name").asText).toSet
    assert(names === Set("hybrid_search", "fts_status", "vector_index_status",
      "fts_match", "get_verse", "search_tafsir"))
    val call = byId(3).at("/result/structuredContent")
    assert(call.get("hits").size() > 0)
    assert(call.get("hits").get(0).get("doc_id").asText.startsWith("riyadussalihin:"))
    val verse = byId(4).at("/result/structuredContent/entries")
    assert(verse.size() === 1)
    assert(verse.get(0).get("surah").asInt === 1)
    assert(byId(5).at("/error/code").asInt === -32601)
    val fm = byId(6).at("/result/structuredContent")
    assert(fm.get("match").asText === "en:modesty AND narrator:umar")
    assert(fm.get("hits").size() > 0)
    assert(fm.get("hits").get(0).get("bm25").asDouble > 0.0)
  }

  test("typed envelope structurally equals the DataFrame envelope (both engines)") {
    Seq(("patience and gratitude", "balanced"), ("narrated by Abu Hurairah", "balanced"),
        ("\"actions are judged\"", "term-priority"), ("Riyad as-Salihin 25", "spec"))
      .foreach { case (q, mode) =>
        val typed = serve.ServeJson.searchEnvelopeTyped(eng, q, 5, mode)
        val df = serve.ServeJson.searchEnvelope(eng, q, 5, mode)
        assert(typed === df, s"'$q' [$mode] envelope diverged")
      }
    Seq("mercy forgiveness", "patience").foreach { q =>
      val typed = serve.ServeJson.tafsirHitsJson(quran.searchTyped(q, 5, "fts"))
      val df = serve.ServeJson.rowsJson(quran.search(q, 5, "fts"))
      assert(typed === df, s"tafsir '$q' hits diverged")
    }
  }

  test("https transport serves the same surface over TLS (ephemeral dev cert)") {
    // the reference's dev runner serves HTTPS with a bundled
    // self-signed cert (http_server.py:78-80); graft mints an
    // EPHEMERAL keypair per JVM instead (no committed private key —
    // ADVICE r15). This drives one real TLS handshake + request
    // end-to-end against the HttpsServer form. The client PINS
    // exactly the generated certificate as its truststore — not
    // trust-all — so a served cert that doesn't match fails the
    // handshake.
    val t = new HttpTransport(Map("riyadussalihin" -> eng), port = 0,
      tls = Some(HttpTransport.Tls()))
    try {
      val ks = java.security.KeyStore.getInstance("PKCS12")
      ks.load(null, null)
      ks.setCertificateEntry("graft-dev", HttpTransport.devCertificate())
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, null)
      val client = HttpClient.newBuilder().sslContext(ctx).build()
      val base = s"https://localhost:${t.boundPort}"
      val health = client.send(
        HttpRequest.newBuilder(URI.create(base + "/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() === 200)
      assert(health.body() === """{"ok":true}""")
      val res = client.send(HttpRequest.newBuilder(
          URI.create(base + "/api/riyadussalihin/search/hybrid"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"Hadith narrated by Abu Hurairah","n_results":3}""", UTF_8))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() === 200)
      val env = mapper.readTree(res.body())
      assert(env.get("intent").asText === "narrator")
      assert(env.get("hits").size() > 0)
      // plain-HTTP client against the TLS port must fail the protocol,
      // proving the listener really speaks TLS
      val plain = HttpClient.newHttpClient()
      intercept[java.io.IOException] { // timeout also surfaces as IOException
        plain.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${t.boundPort}/health"))
          .timeout(java.time.Duration.ofSeconds(5)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      }
    } finally t.stop()
  }

  test("http transport serves concurrent searches correctly (thread safety)") {
    val t = new HttpTransport(Map("riyadussalihin" -> eng), port = 0)
    try {
      val base = s"http://127.0.0.1:${t.boundPort}"
      val client = HttpClient.newHttpClient()
      val queries = Seq("modesty and shyness", "Hadith narrated by Abu Hurairah",
        "patience", "Riyad as-Salihin 680")
      // expected answers, serially
      def search(q: String): String =
        client.send(HttpRequest.newBuilder(
            URI.create(s"$base/api/riyadussalihin/search/hybrid"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"query":"$q","n_results":3}""", UTF_8)).build(),
          HttpResponse.BodyHandlers.ofString()).body()
      val expected = queries.map(q => q -> search(q)).toMap
      // 16 concurrent requests across the 4 queries must each match
      // their serial answer (the engines' resident caches are
      // read-only; Spark jobs multiplex across scheduler pools)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(
        Future.sequence((0 until 16).map(i => Future {
          val q = queries(i % queries.length); q -> search(q)
        })), Duration.Inf)
      results.foreach { case (q, body) => assert(body === expected(q), s"for $q") }
    } finally t.stop()
  }

  test("hybrid cli answers a query and honors :k/:mode/exit") {
    val input = ":k 2\nHadith narrated by Abu Hurairah\nexit\n"
    val out = new ByteArrayOutputStream()
    HybridCli.run(new ByteArrayInputStream(input.getBytes(UTF_8)), out, eng)
    val text = out.toString(UTF_8)
    assert(text.contains("k=2"))
    assert(text.contains("intent=narrator"))
    assert(text.contains("riyadussalihin:"))
    assert(text.contains("breakdown="))
  }
}
