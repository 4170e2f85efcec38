package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer, HttpsConfigurator, HttpsServer}
import graft.Graft
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import javax.net.ssl.{KeyManagerFactory, SSLContext}

/** HTTP transport — the reference's Flask surface
  * (mcp_server/http_server.py:16-73) on the JDK's built-in server (zero
  * added dependencies; the reference needed Flask):
  *
  *   GET  /health
  *   GET  /api/<collection>/status/vector
  *   GET  /api/<collection>/status/fts
  *   POST /api/<collection>/search/hybrid   {query, n_results, mode}
  *
  * One warm engine per collection, opened ONCE at construction — the
  * per-request index reopen the reference pays (tools.py:53-57) is the
  * inefficiency this engine's whole serving design removes. Requests
  * execute on the server's executor threads; the engines' search paths
  * are thread-safe (resident caches are read-only after build, Spark
  * jobs multiplex). Port 0 binds an ephemeral port (tests).
  *
  * `tls = Some(...)` serves HTTPS instead — the reference's dev runner
  * does the same (http_server.py:78-80 passes a bundled self-signed
  * `ssl_context=('cert/cert.pem','cert/key.pem')`); here the JDK's
  * [[HttpsServer]] wraps the identical handler tree, keyed from a
  * PKCS12 keystore ([[HttpTransport.Tls]] — the caller's production
  * keystore, or an EPHEMERAL per-JVM self-signed localhost cert;
  * unlike the reference's committed `cert/` pair, no private key ever
  * lives in the repository), negotiating TLSv1.3/1.2 only. */
final class HttpTransport(collections: Map[String, Graft.HadithEngine],
                          port: Int = 8000,
                          tls: Option[HttpTransport.Tls] = None) {
  HttpTransport.preferNoDelay()
  private val server = tls match {
    case None => HttpServer.create(new InetSocketAddress(port), 0)
    case Some(t) =>
      val s = HttpsServer.create(new InetSocketAddress(port), 0)
      val ctx = HttpTransport.sslContext(t)
      s.setHttpsConfigurator(new HttpsConfigurator(ctx) {
        // pin the negotiable protocol set to TLS 1.3/1.2 — the bare
        // SSLContext would admit legacy versions (ADVICE r15)
        override def configure(params: com.sun.net.httpserver.HttpsParameters): Unit = {
          val ssl = ctx.getDefaultSSLParameters
          ssl.setProtocols(Array("TLSv1.3", "TLSv1.2"))
          params.setSSLParameters(ssl)
        }
      })
      s
  }
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handle(f: HttpExchange => (Int, String)): HttpHandler =
    (ex: HttpExchange) =>
      try { val (c, b) = f(ex); respond(ex, c, b) }
      catch {
        case e: Throwable =>
          // the exception goes to the server's log, never to the client
          System.err.println(
            s"[http] ${ex.getRequestMethod} ${ex.getRequestURI.getPath} failed")
          e.printStackTrace()
          // a respond() that failed mid-write (client reset) cannot
          // send a second set of headers — swallow that, the exchange
          // close below is what actually matters
          try respond(ex, 500, ServeJson.err("internal error").toString)
          catch { case _: Throwable => () }
      } finally ex.close()

  server.createContext("/health", handle(_ => (200, """{"ok":true}""")))

  server.createContext("/api", handle { ex =>
    // /api/<collection>/<verb...>
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    if (parts.length < 3) (404, ServeJson.err("not found").toString)
    else collections.get(parts(1)) match {
      case None => (404, ServeJson.err(s"unknown collection ${parts(1)}").toString)
      case Some(eng) =>
        (ex.getRequestMethod, parts.drop(2).toList) match {
          case ("GET", List("status", "vector")) =>
            (200, ServeJson.vectorStatus(eng).toString)
          case ("GET", List("status", "fts")) =>
            (200, ServeJson.ftsStatus(eng).toString)
          case ("POST", List("search", "hybrid")) =>
            HttpTransport.parseHybrid(
                new String(ex.getRequestBody.readAllBytes(), UTF_8)) match {
              case Left(msg) => (400, ServeJson.err(msg).toString)
              case Right((q, n, mode)) =>
                (200, ServeJson.searchEnvelopeTyped(eng, q, n, mode).toString)
            }
          case _ => (404, ServeJson.err("not found").toString)
        }
    }
  })

  server.start()
  /** The bound port (differs from the requested one when 0/ephemeral). */
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

object HttpTransport {
  /** Turn Nagle off on the server's sockets unless the user already
    * chose: the JDK server writes a response's headers and body as two
    * segments, and with Nagle on the body waits for the client's
    * delayed ACK of the headers — ~40 ms per keep-alive request for a
    * plain client. The JDK reads `sun.net.httpserver.nodelay` ONCE,
    * when the first server of the JVM is created, so every
    * [[HttpTransport]] calls this before `HttpServer.create`. */
  private def preferNoDelay(): Unit =
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true"): Unit

  /** Parse a `POST …/search/hybrid` body into (query, n_results,
    * mode), or the message of a 400: malformed JSON (the reference's
    * Flask `get_json` answers it with 400), a missing or empty
    * `query`, or an `n_results` that is not an integer. Defaults:
    * n_results 10, mode "balanced"; an empty body is `{}`. */
  private[graft] def parseHybrid(body: String): Either[String, (String, Int, String)] = {
    val node =
      try Option(ServeJson.mapper.readTree(if (body.isEmpty) "{}" else body))
      catch { case _: com.fasterxml.jackson.core.JsonProcessingException => None }
    def field(name: String) = node.flatMap(n => Option(n.get(name)))
    if (node.isEmpty) Left("Malformed JSON body")
    else field("query").map(_.asText()).filter(_.nonEmpty) match {
      case None => Left("Missing 'query'")
      case Some(q) => field("n_results") match {
        case Some(n) if !(n.isIntegralNumber && n.canConvertToInt) =>
          Left("'n_results' must be an integer")
        case n => Right((q, n.fold(10)(_.asInt()),
          field("mode").map(_.asText()).getOrElse("balanced")))
      }
    }
  }

  /** TLS keying: a PKCS12 keystore path + password, or (both defaults)
    * an EPHEMERAL self-signed localhost keypair minted at first use —
    * the dev analog of the reference's `ssl_context` dev runner
    * (mcp_server/http_server.py:78-80), minus its committed `cert/`
    * pair: the reference ships a repository-public private key; graft
    * generates a fresh one per JVM so no publicly-known key can ever
    * key a listener (ADVICE r15). Dev clients/tests PIN the generated
    * certificate via [[devCertificate]] (never trust-all); production
    * callers pass their own keystore. */
  final case class Tls(keystorePath: Option[String] = None,
                       password: String = "graftdev")

  /** The ephemeral dev keypair, minted once per JVM on first TLS use:
    * a 2048-bit RSA self-signed localhost certificate
    * (SAN dns:localhost,ip:127.0.0.1; 7-day validity — dev sessions,
    * not deployments) generated by the JDK's own keytool into a
    * per-process temp dir with a [[java.security.SecureRandom]]
    * password. Nothing long-lived, nothing in the repository. */
  private lazy val ephemeralDev: (java.nio.file.Path, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tls")
    dir.toFile.deleteOnExit()
    val ksPath = dir.resolve("dev-keystore.p12")
    ksPath.toFile.deleteOnExit()
    val rnd = new java.security.SecureRandom()
    val pw = new java.math.BigInteger(128, rnd).toString(16)
    val keytool = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "keytool").toString
    val cmd = Array(keytool, "-genkeypair", "-alias", "graft-dev",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "7",
      "-storetype", "PKCS12", "-keystore", ksPath.toString,
      "-storepass", pw, "-keypass", pw,
      "-dname", "CN=localhost",
      "-ext", "SAN=dns:localhost,ip:127.0.0.1")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
    require(proc.waitFor() == 0,
      s"ephemeral dev-TLS keypair generation failed:\n$out")
    (ksPath, pw)
  }

  /** The ephemeral dev certificate — what a dev client pins as its
    * truststore (the handshake then REJECTS any other served cert,
    * unlike trust-all). Production deployments never see this path. */
  def devCertificate(): java.security.cert.X509Certificate = {
    val (path, pw) = ephemeralDev
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(path.toFile)
    try ks.load(in, pw.toCharArray) finally in.close()
    ks.getCertificate("graft-dev")
      .asInstanceOf[java.security.cert.X509Certificate]
  }

  private[serve] def sslContext(tls: Tls): SSLContext = {
    val (path, pw) = tls.keystorePath match {
      case Some(p) => (java.nio.file.Paths.get(p), tls.password)
      case None =>
        System.err.println(
          "NOTE: TLS keyed from an EPHEMERAL self-signed dev " +
            "certificate (this JVM only) — clients must pin it via " +
            "HttpTransport.devCertificate(). Pass Tls(keystorePath = " +
            "...) with a real keystore for anything beyond localhost " +
            "development.")
        ephemeralDev
    }
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(path.toFile)
    try ks.load(in, pw.toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, pw.toCharArray)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }
}

/** `python3 -m mcp_server.http_server` analog:
  * runMain graft.serve.HttpMain <booksGlob> [port] [--tls]
  * (`--tls` serves HTTPS off the bundled dev certificate, like the
  * reference's ssl_context dev runner). */
object HttpMain {
  def main(args: Array[String]): Unit = {
    val glob = args.headOption.getOrElse(graft.Queries.HadithBooks)
    val port = args.lift(1).flatMap(_.toIntOption).getOrElse(8000)
    val tls = if (args.contains("--tls")) Some(HttpTransport.Tls()) else None
    val spark = graft.GraftSession.local("graft-http")
    val eng = Graft.openHadith(spark, glob)
    val t = new HttpTransport(Map("riyadussalihin" -> eng), port, tls)
    graft.GraftSession.tuneForServing(spark)
    eng.searchTyped("warm", 1) // build the resident layers before traffic
    System.err.println(
      s"graft ${if (tls.isDefined) "https" else "http"} serving on :${t.boundPort}")
    Thread.currentThread.join() // serve until killed
  }
}
