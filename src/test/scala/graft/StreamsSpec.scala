package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("windowed counts work identically on a batch frame") {
    import spark.implicits._
    val batch = Seq(
      Ev(ts(0), 1, "click", 1.0), Ev(ts(10), 1, "click", 2.0),
      Ev(ts(70), 2, "view", 3.0)).toDF()
    val out = Streams.windowedCounts(batch, "1 hour").collect()
    assert(out.length === 2)
    val click = out.find(_.getString(1) == "click").get
    assert(click.getLong(2) === 2L && click.getDouble(3) === 3.0)
  }

  test("windowed counts run as a real stream with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.windowedCounts(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try {
      mem.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(5), 2, "click", 1.5), Ev(ts(65), 1, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from win_out").collect()
      assert(rows.length === 2)
      assert(rows.map(_.getLong(2)).sum === 3L)
    } finally q.stop()
  }

  test("windowed approx users: streaming-legal distinct, tracks exact per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.windowedUsersApprox(mem.toDF(), "user_id", "1 hour", rsd = 0.02)
      .writeStream.format("memory").queryName("wu_out").outputMode("complete").start()
    try {
      // hour 0: users {1,2,3} (user 1 twice); hour 1: user {1}
      mem.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(5), 2, "click", 1.0),
        Ev(ts(10), 3, "view", 1.0), Ev(ts(15), 1, "view", 1.0),
        Ev(ts(65), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from wu_out order by window_start").collect()
      assert(rows.length === 2)
      assert(rows(0).getLong(1) === 4L && rows(0).getLong(2) === 3L,
        "hour 0: 4 events, 3 distinct users (sketch exact at this cardinality)")
      assert(rows(1).getLong(2) === 1L)
    } finally q.stop()
  }

  test("streaming dedup drops within-horizon repeats, state evicts with the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.dedupStream(mem.toDF(), Seq("user_id"), "10 minutes")
      .writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    try {
      mem.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(1), 2, "click", 1.0),
        Ev(ts(2), 1, "view", 1.0)) // same key within horizon → dropped
      q.processAllAvailable()
      mem.addData(Ev(ts(3), 1, "view", 2.0)) // still within horizon → dropped
      q.processAllAvailable()
      val n1 = spark.sql("select count(*) from dd_out").head().getLong(0)
      assert(n1 === 2L, "within-horizon repeats of key 1 must drop")
      // advance event time far past the watermark: key 1 re-admits
      mem.addData(Ev(ts(120), 1, "click", 3.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(121), 1, "click", 4.0))
      q.processAllAvailable()
      val users = spark.sql("select * from dd_out").collect().map(_.getLong(1))
      assert(users.count(_ == 1L) === 2L,
        "key re-admits exactly once after its state evicts")
    } finally q.stop()
  }

  test("stateful sessionization closes sessions after the gap (event-time timeout)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then 90 min silence
      mem.addData(Ev(ts(0), 1, "click", 1.0), Ev(ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      // advancing the watermark far past the gap forces the timeout
      mem.addData(Ev(ts(180), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(400), 3, "view", 1.0))
      q.processAllAvailable()
      val sessions = spark.sql("select * from sess_out").as[Session].collect()
      val u1 = sessions.filter(_.user_id == 1L)
      assert(u1.length === 1, s"got ${sessions.mkString(",")}")
      assert(u1.head.n_events === 2 && u1.head.closed)
      assert(u1.head.end_ms - u1.head.start_ms === 5 * 60000L)
    } finally q.stop()
  }

  test("running anomalies: per-series moments persist across batches, spike flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val q = Streams.runningAnomalies(mem.toDS(), zFlag = 3.0, minHistory = 5)
      .writeStream.format("memory").queryName("anom_out").outputMode("append").start()
    try {
      // batch 1: six quiet hours (history builds; first five score None)
      mem.addData((0L until 6L).map(h => ("x", h, 10L + (h % 2))): _*)
      q.processAllAvailable()
      // batch 2: one more quiet hour + a 10x spike — state must carry
      // the six prior hours across the micro-batch boundary
      mem.addData(("x", 6L, 10L), ("x", 7L, 100L))
      q.processAllAvailable()
      val rows = spark.sql("select * from anom_out")
        .as[Streams.HourAnomaly].collect().sortBy(_.hour_bucket)
      assert(rows.length === 8)
      assert(rows.take(5).forall(r => r.z.isEmpty && !r.is_anomaly),
        "no baseline before minHistory prior hours")
      assert(rows(5).z.isDefined && !rows(5).is_anomaly, "quiet hour scores, unflagged")
      assert(rows(6).z.isDefined && !rows(6).is_anomaly)
      assert(rows(7).is_anomaly, s"spike hour must flag: ${rows(7)}")
      assert(rows(7).z.get > 3.0)
      // a second series is independent state
      mem.addData(("y", 0L, 1000L))
      q.processAllAvailable()
      val y = spark.sql("select * from anom_out where series='y'")
        .as[Streams.HourAnomaly].collect()
      assert(y.length === 1 && y.head.z.isEmpty, "fresh series has no baseline")
      // LATE arrival (hour 3 after hour 7 folded): emitted unscored,
      // never folded — the next in-order hour's baseline is unskewed
      mem.addData(("x", 3L, 999L), ("x", 8L, 10L))
      q.processAllAvailable()
      val late = spark.sql("select * from anom_out where series='x' and n_events=999")
        .as[Streams.HourAnomaly].collect()
      assert(late.length === 1 && late.head.z.isEmpty && !late.head.is_anomaly,
        "late hour unscored, unflagged")
      val h8 = spark.sql("select * from anom_out where series='x' and hour_bucket=8")
        .as[Streams.HourAnomaly].collect().head
      assert(h8.z.isDefined, "in-order hour after a late one still scores")
    } finally q.stop()
  }

  test("streaming as-of enrichment matches the batch operator per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-stream").toString
    val refRows = Seq((10L, 1L, 100L, 1.5), (11L, 1L, 300L, 2.5), (12L, 2L, 50L, 3.5))
    val ref = refRows.toDF("event_id", "user_id", "ts", "value")
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts", "value")
    val q = Streams.asofEnrich(stream, () => ref, "user_id", "ts", "event_id",
      Seq("value"), s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData((100L, 1L, 200L, 9.0), (101L, 2L, 40L, 8.0))
      q.processAllAvailable()
      mem.addData((102L, 1L, 400L, 7.0))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out").collect().map { r =>
        val i = r.fieldIndex("asof_event_id")
        r.getLong(0) -> (if (r.isNullAt(i)) -1L else r.getLong(i))
      }.toMap
      assert(out(100L) === 10L, "batch 1: ts 200 sees ref ts 100")
      assert(out(101L) === -1L, "batch 1: before any ref row")
      assert(out(102L) === 11L, "batch 2: ts 400 sees ref ts 300")
      // replay-idempotency shape: one enrich_batch partition per batch,
      // so a replayed batch overwrites itself instead of duplicating
      val parts = spark.read.parquet(s"$dir/out")
        .select("enrich_batch").distinct().count()
      assert(parts === 2L, "one partition per micro-batch")
    } finally q.stop()
  }

  test("rollup maintenance: multi-batch partials merge to the direct aggregate, one partition per batch") {
    // the oracle gate runs ONE micro-batch (single fixture file), which
    // cannot distinguish dynamic partition overwrite from a
    // wipe-everything overwrite — this pins the MULTI-batch contract:
    // two batches → two part_batch partitions, merged == direct
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-rollup-stream").toString
    val mem = MemoryStream[(Long, Long, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = Streams.rollupMaintain(stream, "event_type",
      s"$dir/parts", s"$dir/ckpt")
    try {
      val h = 3600000000000L // 1 hour in ns
      mem.addData((1L, 0L, "view"), (2L, h / 2, "view"), (3L, h, "click"))
      q.processAllAvailable()
      mem.addData((4L, h / 4, "view"), (5L, h + 1, "click"), (6L, 2 * h, "view"))
      q.processAllAvailable()
      val parts = spark.read.parquet(s"$dir/parts")
      assert(parts.select("part_batch").distinct().count() === 2L,
        "one partition per micro-batch (dynamic overwrite, not wipe-all)")
      val merged = graft.operators.Events
        .mergeHourly("event_type", parts.drop("part_batch"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(merged === Map(
        (0L, "view") -> 3L, (1L, "click") -> 2L, (2L, "view") -> 1L),
        "merged partials equal the direct aggregate over all events")
    } finally q.stop()
  }

  test("streaming interval enrichment attributes events to windows per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-iv-stream").toString
    // two campaign windows; bucket width 100 so window A spans buckets
    val iv = Seq(("A", 100L, 350L), ("B", 400L, 450L)).toDF("iv_id", "s", "e")
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("event_id", "ts")
    val q = Streams.intervalEnrich(stream, () => iv, "ts", "s", "e",
      bucketWidth = 100L, ivCols = Seq("iv_id"), s"$dir/out", s"$dir/ckpt")
    try {
      mem.addData((1L, 150L), (2L, 50L), (3L, 350L))
      q.processAllAvailable()
      mem.addData((4L, 420L), (5L, 360L))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
        .select("event_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(out === Set((1L, "A"), (3L, "A"), (4L, "B")),
        "inclusive ends, non-matching events dropped")
      val parts = spark.read.parquet(s"$dir/out")
        .select("enrich_batch").distinct().count()
      assert(parts === 2L, "one partition per micro-batch (replay idempotence)")
    } finally q.stop()
  }

  test("streaming SCD2 maintains versioned history; intra-batch dupes resolve deterministically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2-stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.scd2Stream(mem.toDF().toDF("id", "attr"),
      s"$dir/state", "id", Seq("attr"), s"$dir/ckpt", nBuckets = 4)
    try {
      // batch 0: key 3 arrives twice — lexicographically greatest wins
      mem.addData((1L, "a"), (2L, "b"), (3L, "x"), (3L, "y"))
      q.processAllAvailable()
      val s0 = spark.read.parquet(s"$dir/state")
        .select("id", "attr", "valid_from", "valid_to").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.isNullAt(3))).toSet
      assert(s0 === Set((1L, "a", 0L, true), (2L, "b", 0L, true),
        (3L, "y", 0L, true)))
      // batch 1: key 1 changes (close + reopen at asOf=1), key 2 is
      // touched-but-unchanged, key 3 untouched
      mem.addData((1L, "a2"), (2L, "b"))
      q.processAllAvailable()
      val s1 = spark.read.parquet(s"$dir/state")
        .select("id", "attr", "valid_from", "valid_to").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(s1 === Set(
        (1L, "a", 0L, 1L), (1L, "a2", 1L, -1L),
        (2L, "b", 0L, -1L), (3L, "y", 0L, -1L)))
      // heartbeat batch of only unchanged keys: dirty set empty, no
      // bucket rewritten — state files untouched, content identical
      val before = new java.io.File(s"$dir/state").listFiles().map(f =>
        f.getName -> f.lastModified()).toMap
      mem.addData((1L, "a2"), (3L, "y"))
      q.processAllAvailable()
      val after = new java.io.File(s"$dir/state").listFiles().map(f =>
        f.getName -> f.lastModified()).toMap
      assert(after === before, "all-clean batch must not rewrite any bucket")
    } finally q.stop()
  }

  test("streaming incremental upsert maintains parquet state via foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
      .withColumn("checksum", sha2(col("text"), 256))
    val q = Streams.incrementalUpsert(stream, s"$dir/state", "doc_id", "checksum", s"$dir/ckpt")
    try {
      mem.addData((1L, "alpha"), (2L, "beta"))
      q.processAllAvailable()
      val st = spark.read.parquet(s"$dir/state")
      assert(st.count() === 2)
      // second batch: one changed, one unchanged -> state still 2 rows,
      // with the changed row's new checksum
      mem.addData((1L, "alpha2"), (2L, "beta"))
      q.processAllAvailable()
      val st2 = spark.read.parquet(s"$dir/state")
      assert(st2.count() === 2)
      assert(st2.where($"doc_id" === 1L).head().getAs[String]("text") === "alpha2")
    } finally q.stop()
  }

  test("streaming near-dup ingest appends only novel docs and their bands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-nd").toString
    // offset-collision guard: a non-zero offset that does not clear the
    // existing partition ids must fail LOUDLY at stream start (offset 1
    // against existing ingest_batch=0..2 would overwrite id 1 and prune
    // it out of its own probe); a clearing offset starts fine
    for (b <- 0L to 2L)
      Seq((100L + b, s"seed $b")).toDF("doc_id", "text")
        .write.parquet(s"$dir/corpus/ingest_batch=$b")
    val memG = MemoryStream[(Long, String)]
    val bad = intercept[IllegalArgumentException] {
      Streams.nearDupIngest(memG.toDF().toDF("doc_id", "text"),
        s"$dir/corpus", s"$dir/index", s"$dir/ckptg", "doc_id", "text",
        batchIdOffset = 1L)
    }
    assert(bad.getMessage.contains("collides"))
    Streams.nearDupIngest(memG.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/ckptg", "doc_id", "text",
      batchIdOffset = 3L).stop() // clears max id 2 → allowed
    // fresh-start guard (r13 advice): offset 0 + existing state + a
    // checkpoint with NO commits is the likeliest operator error — run
    // 2's batch 0 would silently overwrite ingest_batch=0; must fail
    val fresh = intercept[IllegalArgumentException] {
      Streams.nearDupIngest(memG.toDF().toDF("doc_id", "text"),
        s"$dir/corpus", s"$dir/index", s"$dir/ckfresh", "doc_id", "text")
    }
    assert(fresh.getMessage.contains("fresh checkpoint"))
    // crash-recovery replay must NOT trip the guard: offsets/0 written,
    // state written, crash BEFORE commits/0 — the restart replays batch
    // 0 onto its own partition (the idempotency contract), so a
    // checkpoint with STARTED batches passes even with zero commits
    val offsets = new java.io.File(s"$dir/ckcrash/offsets")
    offsets.mkdirs()
    java.nio.file.Files.write(offsets.toPath.resolve("0"), "v1".getBytes("UTF-8"))
    Streams.nearDupIngest(memG.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/ckcrash", "doc_id", "text").stop()
    // the SAME replay exemption applies at offset > 0 (r14 review): a
    // crashed offset=3 run restarts on its OWN checkpoint even though
    // ingest_batch=3 already exists — refusing it (the old guard's
    // offset>3 demand) forced an offset bump that would duplicate the
    // orphaned partition in corpus and index
    Seq((103L, "seed 3")).toDF("doc_id", "text")
      .write.parquet(s"$dir/corpus/ingest_batch=3")
    val offs3 = new java.io.File(s"$dir/ckcrash3/offsets")
    offs3.mkdirs()
    java.nio.file.Files.write(offs3.toPath.resolve("0"), "v1".getBytes("UTF-8"))
    Streams.nearDupIngest(memG.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/ckcrash3", "doc_id", "text",
      batchIdOffset = 3L).stop()
    // clean slate for the ingest assertions below
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(s"$dir/corpus"))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/ckpt", "doc_id", "text")
    try {
      // batch 1: 1 ≈ 2 (identical token set → jacc 1.0) resolve to the
      // min-id survivor INSIDE the batch; 3 is distinct
      mem.addData(
        (1L, "spark shuffles partition data across the cluster"),
        (2L, "spark shuffles partition data across the cluster"),
        (3L, "an entirely different document about turtles and rivers"))
      q.processAllAvailable()
      val c1 = spark.read.parquet(s"$dir/corpus")
      assert(c1.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
      // batch 2: 4 duplicates corpus doc 1 (dropped via the index probe),
      // 5 is novel, 6 ≈ 5 loses the intra-batch survivor race
      mem.addData(
        (4L, "spark shuffles partition data across the cluster"),
        (5L, "fresh content that matches nothing previously ingested"),
        (6L, "fresh content that matches nothing previously ingested"))
      q.processAllAvailable()
      val c2 = spark.read.parquet(s"$dir/corpus")
      assert(c2.select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 5L))
      // the index grew append-only and covers exactly the corpus docs
      val idx = spark.read.parquet(s"$dir/index")
      assert(idx.select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 5L))
      // an empty batch (all dups) appends nothing
      mem.addData((7L, "spark shuffles partition data across the cluster"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() === 3)
    } finally q.stop()
    // a checkpoint that HAS commits is a legitimate offset-0 RESUME
    // against the existing state (replayed batches land on their own
    // partitions) — the fresh-start guard must let it through
    Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/ckpt", "doc_id", "text").stop()
  }

  test("near-dup ingest batches are idempotent under foreachBatch retry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ndr").toString
    def runBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Streams.nearDupIngestBatch(df, id, s"$dir/corpus", s"$dir/index",
        "doc_id", "text")
    def corpusIds: Seq[Long] = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSeq.sorted
    val b0 = Seq(
      (1L, "spark shuffles partition data across the cluster"),
      (2L, "spark shuffles partition data across the cluster"),
      (3L, "an entirely different document about turtles and rivers"))
      .toDF("doc_id", "text")
    runBatch(b0, 0L)
    assert(corpusIds === Seq(1L, 3L))
    // the r8-advice crash window: corpus written, index write never
    // landed, checkpoint not committed → the SAME batch replays. The
    // retry must not re-append the survivors (plain append would leave
    // doc_ids 1 and 3 duplicated in the dedup corpus).
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmrf)); f.delete(): Unit
    }
    rmrf(new java.io.File(s"$dir/index"))
    runBatch(b0, 0L)
    assert(corpusIds === Seq(1L, 3L), "replay after index-write crash duplicated docs")
    // crash AFTER both writes but before the checkpoint commit: full
    // replay, still no duplication
    runBatch(b0, 0L)
    assert(corpusIds === Seq(1L, 3L), "post-commit-window replay duplicated docs")
    // and the rebuilt state still serves the next batch's cross-batch probe
    val b1 = Seq(
      (4L, "spark shuffles partition data across the cluster"),
      (5L, "fresh content that matches nothing previously ingested"))
      .toDF("doc_id", "text")
    runBatch(b1, 1L)
    assert(corpusIds === Seq(1L, 3L, 5L))
  }

  test("near-dup ingest drops a re-sent document instead of appending it twice") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-nds").toString
    def runBatch(rows: Seq[(Long, String)], id: Long): Unit =
      Streams.nearDupIngestBatch(rows.toDF("doc_id", "text"), id,
        s"$dir/corpus", s"$dir/index", "doc_id", "text")
    def corpusIds: Seq[Long] = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSeq.sorted
    val one = "spark shuffles partition data across the cluster"
    runBatch(Seq((1L, one),
      (3L, "an entirely different document about turtles and rivers")), 0L)
    assert(corpusIds === Seq(1L, 3L))
    // the same id and text again: Jaccard 1.0 against its stored copy
    runBatch(Seq((1L, one)), 1L)
    assert(corpusIds === Seq(1L, 3L), "a re-sent document was appended again")
    // a doubled stored id doubled the intersection count of every pair
    // probing it, so na + nb - inter hit 0 and the batch failed
    runBatch(Seq((9L, one)), 2L)
    assert(corpusIds === Seq(1L, 3L))
  }

  test("near-dup ingest drops both ends of a batch chain that reaches the corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ndc").toString
    def runBatch(rows: Seq[(Long, String)], id: Long): Unit =
      Streams.nearDupIngestBatch(rows.toDF("doc_id", "text"), id,
        s"$dir/corpus", s"$dir/index", "doc_id", "text",
        threshold = 0.92, numHashes = 16, rowsPerBand = 1)
    def words(r: Range) = r.map(i => s"w$i").mkString(" ")
    // J(a, b) = J(a, c) = 19/20 clear 0.92; J(b, c) = 18/20 does not, so
    // b is a dup only through a, and a only through the corpus doc c
    runBatch(Seq((1L, words(2 to 20))), 0L) // c
    runBatch(Seq((5L, words(1 to 20)), (6L, words(1 to 19))), 1L) // a, b
    assert(spark.read.parquet(s"$dir/corpus").select("doc_id").as[Long]
      .collect().toSeq === Seq(1L))
  }

  test("near-dup ingest stays within its Spark-job ceiling per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ndj").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/ckpt", "doc_id", "text")
    val tally = graft.obs.SparkTally.attach(spark.sparkContext)
    try {
      mem.addData(
        (1L, "spark shuffles partition data across the cluster"),
        (2L, "spark shuffles partition data across the cluster"),
        (3L, "an entirely different document about turtles and rivers"))
      q.processAllAvailable()
      // batches 1 and 2 run every step: intra dups, corpus dups, novel docs
      for (b <- 1 to 2) {
        mem.addData(
          (10L * b, "spark shuffles partition data across the cluster"),
          (10L * b + 1, s"fresh content number $b that matches nothing ingested"),
          (10L * b + 2, s"fresh content number $b that matches nothing ingested"))
        q.processAllAvailable()
      }
      // jobs per micro-batch, keyed by the batch id Structured Streaming
      // stamps on every job a foreachBatch body launches
      val jobs = tally.jobs()
      val perBatch = (0 to 2).map(b => jobs.count(_.batchId.contains(b.toString)))
      // the counts measured on this suite's session (local[4], AQE on) for
      // the first batch (nothing stored to probe) and every later one: a
      // lazy intermediate that two consumers re-derive adds jobs here
      // long before it shows as wall time
      val (firstCeiling, ceiling) = (15, 20)
      assert(perBatch(0) <= firstCeiling && perBatch.tail.forall(_ <= ceiling),
        s"jobs per micro-batch ${perBatch.mkString(", ")} exceed the ceiling " +
          s"($firstCeiling for the first, $ceiling after)")
      // every job of a batch that runs all steps is named after its step
      val steps = Seq("bands", "candidates", "sets", "verify", "components",
        "write_corpus", "write_index").map(s => s"near_dup_ingest.$s").toSet
      val unnamed = jobs.filter(j => j.batchId.exists(Set("1", "2")) &&
        !steps.contains(j.description))
      assert(unnamed.isEmpty, s"jobs outside the named steps: " +
        unnamed.map(j => s"${j.id} '${j.description}'").mkString(", "))
      assert(spark.read.parquet(s"$dir/corpus").select("doc_id").as[Long]
        .collect().toSet === Set(1L, 3L, 11L, 21L))
    } finally { tally.detach(); q.stop() }
  }

  test("near-dup ingest skips the bucket cap only when the batch cannot reach it") {
    import spark.implicits._
    val text = "spark shuffles partition data across the cluster"
    val batch = Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text")
    def run(maxBucket: Int): (Set[Long], Set[Long]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-stream-ndcap").toString
      Streams.nearDupIngestBatch(batch, 0L, s"$dir/corpus", s"$dir/index",
        "doc_id", "text", maxBucket = maxBucket)
      def ids(store: String) = spark.read.parquet(s"$dir/$store")
        .select("doc_id").as[Long].collect().toSet
      (ids("corpus"), ids("index"))
    }
    // every bucket holds all three docs: over a cap of 2 the hot buckets
    // are dropped, so no candidate pair forms, all three are stored and
    // none of their bands is indexed
    assert(run(maxBucket = 2) === ((Set(1L, 2L, 3L), Set.empty[Long])))
    // a cap the batch's doc count does not exceed cannot drop a bucket:
    // the three collapse to the min id, which alone is indexed
    assert(run(maxBucket = 3) === ((Set(1L), Set(1L))))
    assert(run(maxBucket = 10000) === ((Set(1L), Set(1L))))
  }

  test("stream_parse_ingest fails naming its glob when no page matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-noparse").toString
    val glob = s"$dir/*.html"
    val e = intercept[java.io.FileNotFoundException](Queries.streamParseIngest(spark, glob))
    assert(e.getMessage.contains(glob))
  }

  test("a 1-row batch rewrites only its own bucket partition, not the table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-b").toString
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
      .withColumn("checksum", sha2(col("text"), 256))
    val q = Streams.incrementalUpsert(stream, s"$dir/state", "doc_id", "checksum",
      s"$dir/ckpt", nBuckets = 8)
    def partitionFiles: Map[String, Set[String]] = {
      val root = new java.io.File(s"$dir/state")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    }
    try {
      mem.addData((1L to 40L).map(i => (i, s"doc $i")): _*)
      q.processAllAvailable()
      val before = partitionFiles
      assert(before.size > 1, "seed batch should span multiple buckets")
      mem.addData((1L, "doc 1 CHANGED"))
      q.processAllAvailable()
      val after = partitionFiles
      val touched = after.keySet.union(before.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(touched.size === 1, s"expected 1 rewritten partition, got $touched")
      assert(spark.read.parquet(s"$dir/state").count() === 40)
      // clean batch -> nothing rewritten at all
      mem.addData((2L, "doc 2"))
      q.processAllAvailable()
      assert(partitionFiles === after)
    } finally q.stop()
  }

  test("left-outer stream-stream join flushes outer rows once the watermark passes the data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj-outer").toString
    def spool(name: String, rows: Seq[(Long, Long, String, Long, Double)],
              mtime: Long): Unit =
      Streams.spoolSingleFile(
        rows.toDF("event_id", "user_id", "event_type", "ts_us", "value"),
        dir, name, mtime)
    val base = 1700000000000000L // µs
    val H = 3600000000L
    // u1's view is 10 min before the purchase (match); u2 has no view
    // (outer row); u3's only view is 2 h before — OUTSIDE the 1 h
    // window, so outer too
    spool("a", Seq(
      (1L, 1L, "purchase", base + 2 * H, 50.0),
      (2L, 1L, "view", base + 2 * H - 600000000L, 1.0),
      (3L, 2L, "purchase", base + 2 * H, 60.0),
      (4L, 3L, "purchase", base + 2 * H, 70.0),
      (5L, 3L, "view", base, 2.0)), mtime = 1000000L)
    // far-future sentinels on BOTH legs advance both source watermarks;
    // without them the three left rows would sit in state forever
    spool("b", Seq(
      (-1L, -1L, "purchase", base + 100 * H, 0.0),
      (-2L, -2L, "view", base + 100 * H, 0.0)), mtime = 2000000L)
    val sch = spark.read.parquet(s"$dir/in").schema
    def leg(t: String) = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .where(col("event_type") === t)
      .withColumn("ts_ev", timestamp_micros(col("ts_us")))
      .select(col("event_id"), col("user_id"), col("ts_ev"))
    val joined = Streams.streamStreamJoin(
        leg("purchase"), leg("view"), "user_id", "ts_ev",
        lookback = "1 hour", watermark = "1 second", joinType = "leftOuter")
      .select(col("l.event_id").as("pid"), col("l.user_id").as("uid"),
        col("r.event_id").as("vid"))
    val out = Streams.runToParquet(joined, s"$dir/run")
      .where(col("uid") >= 0).orderBy("pid").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq === Seq((1L, 1L, 2L), (3L, 2L, -1L), (4L, 3L, -1L)))
  }

  test("transformWithState running totals: ValueState crosses micro-batches, final row is the batch aggregate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tws").toString
    // two SEPARATE files → two micro-batches under maxFilesPerTrigger=1
    def spool(name: String, rows: Seq[(Long, Long, Double)], mtime: Long): Unit =
      Streams.spoolSingleFile(rows.toDF("event_id", "user_id", "value"),
        dir, name, mtime)
    spool("a", Seq((1L, 1L, 1.0), (2L, 1L, 2.0), (3L, 2L, 5.0)), mtime = 1000000L)
    spool("b", Seq((4L, 1L, 4.0), (5L, 3L, 7.0)), mtime = 2000000L)
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val raw =
      try {
        val sch = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType)))
        val src = spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
        Streams.runningTotals(src, s"$dir/run").collect()
      } finally prev.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
    val byUser = raw.groupBy(_.getLong(0))
    // user 1 appears in BOTH batches: two emissions, running count
    // strictly grows to the final 3 — state provably crossed batches
    val u1 = byUser(1L).map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(u1.length === 2, s"one emission per batch: $u1")
    assert(u1.last === ((3L, 7.0)))
    assert(u1.head._1 < 3L, "first emission must be a partial running count")
    // single-batch users emit once with their full totals
    assert(byUser(2L).map(r => (r.getLong(1), r.getDouble(2))).toSeq === Seq((1L, 5.0)))
    assert(byUser(3L).map(r => (r.getLong(1), r.getDouble(2))).toSeq === Seq((1L, 7.0)))
  }
}
