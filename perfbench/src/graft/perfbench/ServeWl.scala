package graft.perfbench

import graft.{Graft, GraftSession, Router}
import graft.operators.{HadithSearch, Ingest, Resident}
import graft.serve.{HttpTransport, ServeJson}

import java.io.{BufferedInputStream, File}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import jdk.net.ExtendedSocketOptions
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** serve_hybrid: `POST /api/<c>/search/hybrid`, closed-loop for capacity
  * and then open-loop at a nominal rate, against `HttpTransport` over
  * `Graft.openHadith` of a seeded hadith corpus, opened, tuned and warmed
  * the way `serve.HttpMain` does it. */
object ServeWl {
  val W = "serve_hybrid"

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = new File(c.work, "hadith")
    val nDocs = c.int(W, "docs")
    val docs = Gen.hadithCorpus(c.seed, nDocs, dir)
    val queries = Gen.queryMix(c.seed, docs, c.int(W, "query_rounds"))
    val glob = new File(dir, "book_*.jsonl").getAbsolutePath

    // ---- set-up: ingest + index build + transport + warm (the write side)
    var eng: Graft.HadithEngine = null
    var http: HttpTransport = null
    c.setups(W) { _ =>
      if (http != null) { http.stop(); eng = null; spark.catalog.clearCache() }
      if (!c.trace.on) {
        eng = Graft.openHadith(spark, glob)
        http = new HttpTransport(Map(Gen.Slug -> eng), 0)
        GraftSession.tuneForServing(spark)
        eng.searchTyped("warm", 1)
      } else c.trace.span("setup") { sid =>
        // the steps of Graft.openHadith (Graft.scala), one span each and
        // nothing added: keep the two in step. Validation is lazy, so the
        // JSON scan and the validation filter run in the build's first stage.
        val silver = c.trace.span("ingest.validate", sid, jobs = true)(_ =>
          HadithSearch.silver(Ingest.validated(Ingest.readBooks(spark, glob))))
        val idx = c.trace.span("hadith_search.build_index", sid, jobs = true)(_ =>
          HadithSearch.buildIndex(silver, 128).materialize())
        eng = new Graft.HadithEngine(idx)
        http = new HttpTransport(Map(Gen.Slug -> eng), 0)
        GraftSession.tuneForServing(spark)
        val before = c.retainedHeapMb()
        c.trace.span("resident.layers", sid, jobs = true)(_ => eng.searchTyped("warm", 1))
        c.metric("resident.layers_mb", c.retainedHeapMb() - before, "MB")
      }
    }
    c.metric("heap_retained_mb", c.retainedHeapMb(), "MB")
    c.check("every generated row passes Ingest.validated",
      Ingest.quarantine(Ingest.readBooks(spark, glob)).count() == 0 && eng.silver.count() == nDocs)
    val postings = eng.index.post.count()
    c.check("corpus within the resident bounds",
      nDocs <= Graft.MaxResidentRows && postings <= Resident.MaxResidentPostings,
      s"docs=$nDocs postings=$postings")
    c.note(s"corpus: $nDocs docs, $postings posting rows, ${queries.length} queries in the mix")

    // ---- client: one keep-alive connection per worker, nproc workers
    val conns = c.nproc
    val path = s"/api/${Gen.Slug}/search/hybrid"
    val clients = Array.fill(conns)(new RawHttp("127.0.0.1", http.boundPort))
    val bodies = queries.map { q =>
      ServeJson.mapper.createObjectNode().put("query", q.text).put("n_results", 10).put("mode", q.mode)
        .toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def post(w: Int, qi: Int): (Int, String) = clients(w).post(path, bodies(qi))
    // op code: status * 2 + (correct ? 0 : 1)
    def request(w: Int, qi: Int): Int = {
      val q = queries(qi % queries.length)
      val (st, body) = post(w, qi % queries.length)
      st * 2 + (if (Checks.serveOutcome(q, st, body)._1) 0 else 1)
    }
    def tally(codes: Array[Int]): Unit = {
      c.attempted += codes.length
      c.failed += codes.count(x => (x & 1) == 1)
    }

    /** f(worker, i) for i in 0 until n, on `conns` threads. */
    def parallel(n: Int)(f: (Int, Int) => Unit): Unit = {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      (0 until conns).map { w =>
        val t = new Thread(() => { var i = next.getAndIncrement(); while (i < n) { f(w, i); i = next.getAndIncrement() } })
        t.start(); t
      }.foreach(_.join())
    }
    /** Every connection sends back to back for `durS` (closed loop); the
      * answers per half second go to the log, so a climb shows. */
    def closed(label: String, durS: Double): (Int, Double) = {
      val t0 = System.nanoTime()
      val ends = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val (codes, secs) = Load.closedLoop(durS, conns) { (w, i) =>
        val code = request(w, i); ends.add(System.nanoTime() - t0); code
      }
      tally(codes)
      val halves = ends.asScala.toSeq.map(_ / 500000000L).groupBy(identity).toSeq.sortBy(_._1).map(_._2.size)
      c.note(f"$label: ${codes.length} requests in $secs%.2f s on $conns connections, per 0.5 s: ${halves.mkString(" ")}")
      (codes.length, secs)
    }

    // warm up: a closed loop for `warm_s`, so the JIT has compiled the
    // serving path before anything is timed (after 150 warm-up requests a
    // closed loop's rate still climbed for about 4 s)
    closed("warm-up", c.dbl(W, "warm_s"))

    // ---- measured: (untraced) capacity right after the warm-up, then the nominal rate
    if (!c.trace.on) {
      val (n, secs) = closed("capacity", c.dbl(W, "saturate_s"))
      c.metric("throughput_per_s", n / secs, "1/s")
    }
    val nominal = c.dbl(W, "nominal_rps")
    var gcMs = 0.0
    var measuredSpan = 0L
    val nominalPhase = c.measured("serve.measured") { mid =>
      measuredSpan = mid
      val gc0 = c.gcMs()
      val p = Load.openLoop(nominal, c.seconds, conns, c.seed) { (w, i) =>
        val t0 = System.nanoTime()
        val code = request(w, i)
        // traced runs record every other request, so the two halves
        // give the tracing overhead
        if (c.trace.on && i % 2 == 0) c.trace.record("serve.http", mid, i, t0, System.nanoTime())
        code
      }
      gcMs = c.gcMs() - gc0
      if (c.trace.on) decompose(c, queries, eng, post, mid)
      p
    }
    tally(nominalPhase.code)
    val lat = nominalPhase.latMs
    c.metric("latency_p50_ms", Stats.median(lat), "ms")
    c.note(s"nominal ${nominal}/s: n=${lat.size} ms p10..p90: " +
      Seq(10, 25, 50, 75, 90).map(p => f"${Stats.pct(lat, p)}%.1f").mkString(" "))
    Stats.tailPct(lat.size).foreach(p => c.metric(s"serve.latency_p${fmtPct(p)}_ms", Stats.pct(lat, p), "ms"))
    c.metric("jvm.gc_ms", gcMs, "ms")
    c.metric("client.late_ms_p99", Stats.pct(nominalPhase.lateMs, 99), "ms")
    c.metric("serve.status_4xx", nominalPhase.code.count(x => x / 2 >= 400 && x / 2 < 500).toDouble, "count")
    c.metric("serve.status_5xx", nominalPhase.code.count(x => x / 2 >= 500).toDouble, "count")
    if (c.trace.on) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      c.metric("graft.fallback_jobs", c.trace.tally.of(measuredSpan).jobs.get.toDouble, "count")
      val even = (0 until nominalPhase.n).filter(_ % 2 == 0).map(i => lat(i))
      val odd = (0 until nominalPhase.n).filter(_ % 2 == 1).map(i => lat(i))
      c.metric("trace.overhead_pct", 100 * (Stats.median(even) / Stats.median(odd) - 1), "%")
    }

    // ---- search quality: is a sourced query's doc among its 10 hits (every
    // sourced query of the mix, through the engine call the server makes)
    val sourced = queries.filter(_.sourceDoc != null)
    val found = new java.util.concurrent.atomic.AtomicInteger(0)
    parallel(sourced.length) { (_, i) =>
      val q = sourced(i)
      if (eng.searchTyped(q.text, 10, q.mode).exists(_.docId == q.sourceDoc)) found.incrementAndGet()
    }
    c.metric("recall", found.get.toDouble / sourced.length, "ratio")

    // ---- output check: typed envelope == HadithEngine.search on a fixed sample
    val sample = Seq("exact_ref", "ar_thematic")
      .flatMap(cls => queries.indices.find(i => queries(i).cls == cls))
    sample.foreach { qi =>
      val q = queries(qi)
      val (st, body) = post(0, qi)
      val env = ServeJson.mapper.readTree(body).get("hits")
      val envHits = (0 until env.size).map(i => env.get(i).get("doc_id").asText -> env.get(i).get("score").asDouble)
      val rows = eng.search(q.text, 10, q.mode).collect().toSeq
      val searchHits = rows.map(r => r.getAs[String]("doc_id") -> r.getAs[Double]("score"))
      c.check(s"typed envelope equals HadithEngine.search [${q.cls}]",
        st == 200 && Checks.sameHits(envHits, searchHits), s"query=${q.text} status=$st")
    }
    clients.foreach(_.close())
    http.stop()
  }

  private def fmtPct(p: Double): String = if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_')

  /** Traced only: per request, the HTTP round trip, then the handler's
    * own work in-process (engine call as a child of the envelope span)
    * and the router alone. */
  private def decompose(c: Ctx, queries: Array[Gen.Query], eng: Graft.HadithEngine,
                        post: (Int, Int) => (Int, String), parent: Long): Unit = {
    val tr = c.trace
    val pools = ArrayBuffer.empty[Double]
    val n = math.min(queries.length, c.int(W, "decompose_requests"))
    for (i <- 0 until n) {
      val q = queries(i)
      tr.span("request", parent, i) { rid =>
        val t0 = System.nanoTime()
        post(0, i)
        tr.record("serve.http.rt", rid, i, t0, System.nanoTime())
        if (q.text.nonEmpty) {
          tr.span("serve.json", rid, i) { jid =>
            val (hits, pool) = tr.span(s"resident.search.${q.cls}", jid, i)(_ => eng.searchTypedScored(q.text, 10, q.mode))
            pools += pool
            ServeJson.hybridEnvelopeTyped(q.text, q.mode, hits, pool).toString
          }
          tr.span("router.route", rid, i)(_ => Router.route(q.text))
        }
      }
    }
    val spans = tr.all
    val kids = spans.groupBy(_.parent)
    val byReq = spans.filter(s => s.req < n && s.parent != parent).groupBy(_.req)
    val httpSelf = byReq.values.flatMap { ss =>
      for (h <- ss.find(_.name == "serve.http.rt"); j <- ss.find(_.name == "serve.json"))
        yield (tr.dur(h) - tr.dur(j)) / 1e6
    }.toSeq
    c.metric("serve.http_self_ms", Stats.median(httpSelf), "ms")
    c.metric("serve.json_self_us",
      Stats.median(tr.named("serve.json").map(s => tr.selfNs(s, kids.getOrElse(s.id, Nil)) / 1e3)), "us")
    c.metric("router.route_us", Stats.median(tr.named("router.route").map(tr.dur(_) / 1e3)), "us")
    Seq("exact_ref", "narrator", "en_thematic", "ar_thematic", "phrase", "mixed", "edge").foreach { cls =>
      val xs = tr.named(s"resident.search.$cls").map(tr.dur(_) / 1e3)
      if (xs.nonEmpty) c.metric(s"resident.search_us.$cls", Stats.median(xs), "us")
    }
    c.metric("resident.candidates", pools.sum / math.max(1, pools.size), "count")
  }
}

/** Minimal HTTP/1.1 keep-alive client over one socket: each request is
  * ONE write (headers and body together, TCP_NODELAY), so the client adds
  * no Nagle wait of its own to what it measures. After each write it
  * asks for quick ACKs: the server writes headers and body as two
  * segments with Nagle on, so a delayed ACK of the first would hold the
  * second back (about 40 ms, on a share of requests that varies from run
  * to run). Any I/O error or timeout returns status -1 and reconnects. */
final class RawHttp(host: String, port: Int) {
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  private var quickAck = false
  private def connect(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(5000)
    sock.connect(new InetSocketAddress(host, port), 5000)
    quickAck = sock.supportedOptions().contains(ExtendedSocketOptions.TCP_QUICKACK)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  }
  private def line(): String = {
    val b = new java.io.ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') { if (c < 0) throw new java.io.EOFException(); if (c != '\r') b.write(c); c = in.read() }
    b.toString(US_ASCII)
  }
  def post(path: String, body: Array[Byte]): (Int, String) =
    try {
      if (sock == null) connect()
      val head = s"POST $path HTTP/1.1\r\nHost: $host:$port\r\nContent-Type: application/json\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
      sock.getOutputStream.write(head.getBytes(US_ASCII) ++ body)
      if (quickAck) sock.setOption(ExtendedSocketOptions.TCP_QUICKACK, java.lang.Boolean.TRUE)
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        if (h.regionMatches(true, 0, "content-length:", 0, 15)) len = h.substring(15).trim.toInt
        h = line()
      }
      (status, new String(in.readNBytes(len), UTF_8))
    } catch {
      case _: java.io.IOException | _: RuntimeException => close(); (-1, "")
    }
  def close(): Unit = { if (sock != null) sock.close(); sock = null }
}
