package graft.streaming

import graft.operators.{Dedup, Incremental}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Structured Streaming surface (builder brief; SURVEY §2.10 notes the
  * reference's incremental behaviors are checkpointed batch — these are
  * their streaming-native equivalents, same transforms, streaming
  * source/sink).
  */
object Streams {

  /** Watermarked tumbling-window rollup of an event stream — the
    * streaming twin of the events_hourly batch query. Works on both
    * batch and streaming frames (same declarative plan). */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count("*").as("n_events"), round(sum("value"), 6).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Windowed APPROX distinct users — [[windowedCounts]]'s sibling for
    * the aggregate exact streaming can't do: `count(DISTINCT user)` is
    * unsupported in streaming aggregation (state would hold every user
    * id per open window); the HyperLogLog++ sketch IS the streaming-
    * legal form, with fixed per-window state and mergeable partials —
    * the stream face of [[graft.operators.Events.hourlyUsersApprox]],
    * same rsd contract (estimates pinned within tolerance in
    * StreamsSpec, never oracle-matchable). */
  def windowedUsersApprox(events: DataFrame, userCol: String,
                          windowLen: String = "1 hour",
                          watermark: String = "2 hours",
                          rsd: Double = 0.05): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col(userCol), rsd).as("n_users_est"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("n_users_est"))

  /** Streaming EXACT dedup with bounded state: drop rows whose key was
    * already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` evicts each key's state once the
    * watermark passes it — plain `dropDuplicates` on a stream holds
    * EVERY key forever (state = all history, the unbounded-state trap);
    * this is the firehose-legal form, with the contract that a
    * duplicate arriving AFTER the horizon is re-admitted (cross-horizon
    * exactness belongs to the persisted ledger — compose with
    * [[graft.operators.Incremental.bloomAntiJoin]] in the sink).
    * Key on a content checksum (F18) for content-dedup semantics. */
  def dedupStream(stream: DataFrame, keyCols: Seq[String],
                  watermark: String, tsCol: String = "ts"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked STREAM-STREAM inner join — the canonical stateful
    * two-stream operator (Spark buffers BOTH sides in the state store
    * and emits a pair the micro-batch either side's row arrives in):
    * left row ⋈ right rows sharing `keyCol` whose event time falls in
    * `[left_ts − lookback, left_ts]`. Both sides carry a watermark and
    * the join condition bounds event time in both directions, so the
    * state store EVICTS rows older than watermark + lookback — the
    * property that makes the operator run forever at 100 TB/day
    * (unbounded-state stream joins OOM; this one's state is the
    * lookback window per key). Inner join ⇒ the emitted PAIR SET is
    * micro-batching-invariant: every qualifying pair appears exactly
    * once regardless of which batch each side's row arrived in — which
    * is what lets a plain SQL join oracle a real two-stream run.
    * `joinType = "leftOuter"` adds the unmatched-left rows, which Spark
    * emits only when the WATERMARK passes a row's last possible match
    * (outer emission is watermark-driven, not end-of-batch) — a bounded
    * run must advance the watermark past its data (the registered
    * outer row does it with a far-future sentinel on both legs) or the
    * tail's outer rows stay buffered in state forever. Returns the
    * joined frame with sides aliased `l` / `r`; callers project. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, keyCol: String,
                       tsCol: String, lookback: String,
                       watermark: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$tsCol") >= col(s"l.$tsCol") - expr(s"INTERVAL $lookback") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol"),
      joinType)
  }

  /** Run `f` against a CLONED session whose `spark.sql.shuffle
    * .partitions` is `n`. At streaming-query START this becomes the
    * STATE partition count of every stateful operator in the query
    * (fixed into the checkpoint thereafter) and the exchange width of
    * foreachBatch internals. State sizing is per-workload policy, not
    * an engine constant: a stateful query pays (state-store open +
    * commit + snapshot bookkeeping) × partitions EVERY micro-batch
    * regardless of data volume, so a query whose per-trigger volume
    * fits a few tasks should run a few state partitions — while a
    * 100 TB/day firehose sizes n to its peak per-trigger volume (the
    * same sizing decision as any batch shuffle, made once because the
    * checkpoint pins it). The registered stream rows spool a few
    * thousand rows per micro-batch and run at n = 8: measured on the
    * bench session (local[32], 32 shuffle partitions) the five
    * stateful rows drop 33.9 → ~21 s combined, purely fixed overhead.
    *
    * The override lives in `spark.newSession()` — same SparkContext
    * and SharedState (cache, catalog), ISOLATED SQLConf — so a query
    * planned concurrently on the parent session (a serving transport's
    * thread pool, an overlapping registered query) never observes n or
    * races a restore (ADVICE r15). `f` must build its stream frames
    * FROM the scoped session it receives (the conf consulted at query
    * start is `df.sparkSession`'s) and must start AND await its
    * queries inside (micro-batch planning reads session conf
    * asynchronously for the query's lifetime). */
  def withStatePartitions[T](spark: org.apache.spark.sql.SparkSession, n: Int,
                             extraConf: Map[String, String] = Map.empty)(
      f: org.apache.spark.sql.SparkSession => T): T = {
    val scoped = spark.newSession()
    // newSession inherits builder-time/SparkConf settings but NOT conf
    // set at runtime on the parent — copy those over first so a caller
    // that tuned its session after creation keeps the tuning inside the
    // scoped block (ADVICE r16). Static/non-modifiable entries (already
    // identical on the clone anyway) are skipped rather than thrown on.
    spark.conf.getAll.foreach { case (k, v) =>
      if (!scoped.conf.getOption(k).contains(v))
        try scoped.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    scoped.conf.set("spark.sql.shuffle.partitions", n.toString)
    extraConf.foreach { case (k, v) => scoped.conf.set(k, v) }
    f(scoped)
  }

  /** Write `df` as exactly ONE parquet file at `dstDir/name.parquet`
    * with a pinned modification time. FileStreamSource orders files by
    * mtime (ties by path), so multi-file registered streams use this to
    * make their micro-batch SCHEDULE deterministic — load-bearing for
    * the sentinel-flushed outer join (the sentinel MUST be the later
    * batch or the data would arrive behind the advanced watermark and
    * be dropped as late) and for the cross-batch TWS evidence. */
  def spoolSingleFile(df: DataFrame, dstDir: String, name: String,
                      mtimeMs: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"$dstDir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val listing = Files.list(Paths.get(tmp))
    val part = try listing.filter(_.toString.endsWith(".parquet"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $tmp"))
    finally listing.close()
    Files.createDirectories(Paths.get(s"$dstDir/in"))
    val dst = Paths.get(s"$dstDir/in/$name.parquet")
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** Run a streaming frame to a parquet sink with Trigger.AvailableNow
    * (process everything currently available, then stop) and return the
    * materialized result table. This is how the registered stream_*
    * queries get a DRIVER-ORACLE-comparable table out of a REAL
    * micro-batch execution — the oracle is plain SQL over the same
    * input the file source consumed. At cluster scale the trigger
    * becomes a processing-time schedule and the read-back is the
    * downstream consumer. */
  def runToParquet(df: DataFrame, scratchDir: String,
                   timeoutMs: Long = 600000L): DataFrame = {
    val q = df.writeStream.format("parquet")
      .option("path", s"$scratchDir/out")
      .option("checkpointLocation", s"$scratchDir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    awaitAndRead(q, df.sparkSession, s"$scratchDir/out", df.schema, timeoutMs)
  }

  /** The bounded-wait/stop/read-back contract shared by every
    * driver-oracled streaming run ([[runToParquet]], the
    * [[asofEnrich]]-based registered query): StreamExecution runs its
    * micro-batch jobs under its OWN job group, so a caller-side
    * cancelJobGroup (the bench's per-query cap) can never reach them —
    * an unbounded awaitTermination would leave a wedged stream running
    * (and a blocked thread) for the rest of the process. On expiry the
    * query is stopped before raising. The read-back carries the
    * EXPECTED schema: a run whose input had zero matching rows writes
    * no data files, and schema inference over an empty sink dir would
    * turn an empty-but-correct result into a hard failure. */
  def awaitAndRead(q: org.apache.spark.sql.streaming.StreamingQuery,
                   spark: SparkSession, outPath: String,
                   schema: org.apache.spark.sql.types.StructType,
                   timeoutMs: Long = 600000L): DataFrame = {
    awaitDone(q, timeoutMs)
    spark.read.schema(schema).parquet(outPath)
  }

  /** Bounded wait without the read-back — for multi-RUN state evolution
    * (e.g. the two-phase `stream_scd2_merge` oracle row), where only the
    * LAST run's state is read. Same stop-on-expiry contract as
    * [[awaitAndRead]]. */
  def awaitDone(q: org.apache.spark.sql.streaming.StreamingQuery,
                timeoutMs: Long = 600000L): Unit = {
    val done = q.awaitTermination(timeoutMs)
    if (!done) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"streaming run exceeded ${timeoutMs}ms; query stopped")
    }
  }

  final case class Ev(ts: java.sql.Timestamp, user_id: Long,
                      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
                           n_events: Int, closed: Boolean)

  /** Stateful sessionization: sessions close after `gapMinutes` of
    * silence, tracked per user with event-time timeout — the streaming
    * twin of the events_sessions lag-window query
    * (flatMapGroupsWithState, as the brief's custom-state example). */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def fn(user: Long, evs: Iterator[Ev], state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(user, s.start, s.last, s.n, closed = true))
      } else {
        val sorted = evs.toSeq.sortBy(_.ts.getTime)
        var cur = state.getOption
        val closed = Seq.newBuilder[Session]
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last <= gapMs =>
              cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
            case Some(s) =>
              closed += Session(user, s.start, s.last, s.n, closed = true)
              cur = Some(SessionState(t, t, 1))
            case None =>
              cur = Some(SessionState(t, t, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapMs)
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class SeriesMoments(cnt: Long, s1: Long, s2: Long,
                                 lastHour: Long = Long.MinValue)
  final case class HourAnomaly(series: String, hour_bucket: Long,
                               n_events: Long, z: Option[Double],
                               is_anomaly: Boolean)

  /** Streaming volume-anomaly monitor — the stateful, prequential twin
    * of [[graft.operators.Events.hourlyAnomalies]] (which scores each
    * hour against the WHOLE series retrospectively; a monitor can't see
    * the future, so here each arriving hour is scored against the
    * moments of all hours seen BEFORE it, then folded in). Input is a
    * stream of finalized per-(series, hour) counts — e.g. a watermarked
    * [[windowedCounts]] emission — so state per series is three longs
    * (n, Σx, Σx²), O(1) forever, no timeline buffer, no timeout needed.
    * The z arithmetic is the same explicit-integer-moment sequence as
    * the batch operator; hours arriving before `minHistory` prior hours
    * exist score None (a monitor has no baseline yet), as do σ=0
    * histories. LATE hours — an hour at or before one already folded
    * (backfill, replayed topic) — are emitted with z=None and NOT
    * folded: folding them would score them against a future-inclusive
    * baseline and permanently skew the moments, silently breaking the
    * prequential contract. */
  def runningAnomalies(hours: Dataset[(String, Long, Long)],
                       zFlag: Double = 3.0,
                       minHistory: Int = 5): Dataset[HourAnomaly] = {
    import hours.sparkSession.implicits._

    def fn(series: String, rows: Iterator[(String, Long, Long)],
           st: GroupState[SeriesMoments]): Iterator[HourAnomaly] = {
      var m = st.getOption.getOrElse(SeriesMoments(0L, 0L, 0L))
      // process in hour order: within a micro-batch each hour must see
      // exactly the moments of the hours before it
      val out = rows.toSeq.sortBy(_._2).map { case (_, hour, n) =>
        if (hour <= m.lastHour) {
          // late arrival: never fold, never score (see scaladoc)
          HourAnomaly(series, hour, n, None, is_anomaly = false)
        } else {
          val z: Option[Double] =
            if (m.cnt >= minHistory) {
              val mu = m.s1.toDouble / m.cnt
              val varr = (m.s2.toDouble - m.s1.toDouble * m.s1 / m.cnt) / (m.cnt - 1)
              if (varr > 0)
                Some(BigDecimal((n - mu) / math.sqrt(varr))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              else None
            } else None
          m = SeriesMoments(m.cnt + 1, m.s1 + n, m.s2 + n * n, hour)
          HourAnomaly(series, hour, n, z, z.exists(x => math.abs(x) >= zFlag))
        }
      }
      st.update(m)
      out.iterator
    }

    hours.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Stream-side point-in-time enrichment: every micro-batch of left
    * events is as-of joined ([[graft.operators.AsOf.asofJoin]] — union+
    * window, no range explosion) against a STATIC reference table and
    * appended to a parquet sink. The composition a feature pipeline
    * needs when the reference is a slowly-rebuilt snapshot (features,
    * prices as-of) and the probe side streams: foreachBatch keeps the
    * batch operator's exact semantics (ties, nulls, tolerance) per
    * micro-batch with zero operator re-implementation. For a fast-
    * moving reference, rebuild the snapshot between batches — the
    * lambda re-reads `right` each call.
    *
    * IDEMPOTENT under foreachBatch's at-least-once replay (the
    * [[nearDupIngestBatch]] doctrine): output grows as one
    * `enrich_batch=<id>` partition per micro-batch written with dynamic
    * partition overwrite, so a batch replayed after a crash REWRITES
    * its own partition instead of appending duplicates. */
  /** The ONE implementation of the replay-idempotent per-batch sink
    * every foreachBatch surface shares ([[asofEnrich]],
    * [[intervalEnrich]], [[rollupMaintain]]): the transformed batch
    * lands as its own `partCol=<batchId>` partition under dynamic
    * partition overwrite, so a batch replayed after a crash REWRITES
    * its own partition instead of appending duplicates. The
    * idempotency-critical write options live here and nowhere else. */
  private def partitionedBatchSink(stream: DataFrame,
      transform: (DataFrame, Long) => DataFrame, partCol: String,
      outPath: String, checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w0 = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    trigger.fold(w0)(w0.trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        transform(batch, batchId)
          .withColumn(partCol, lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCol)
          .parquet(outPath)
        ()
      }
      .start()
  }

  def asofEnrich(stream: DataFrame, right: () => DataFrame,
                 keyCol: String, tsCol: String, tieCol: String,
                 rightCols: Seq[String], outPath: String, checkpoint: String,
                 toleranceNs: Option[Long] = None,
                 trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    partitionedBatchSink(stream, (batch, _) =>
        graft.operators.AsOf.asofJoin(batch, right(), keyCol, tsCol, tieCol,
          rightCols, toleranceNs),
      "enrich_batch", outPath, checkpoint, trigger)

  /** Streaming incremental ROLLUP maintenance — the streaming face of
    * [[graft.operators.Events.mergeHourly]]: each micro-batch's
    * [[graft.operators.Events.hourlyGrain]] partial lands as its own
    * idempotent `part_batch=<id>` partition (dynamic overwrite — a
    * replayed batch rewrites itself, the [[asofEnrich]] doctrine), and
    * the serving read merges partials with ONE O(|buckets|) combinable
    * sum. Counts are decomposable, so the merged result is
    * micro-batching-INVARIANT and equals the direct aggregate over all
    * events — which is exactly the registered oracle. At 100 TB this is
    * the nightly-rollup path: O(|batch|) per ingest, never an
    * O(|history|) recompute. */
  def rollupMaintain(stream: DataFrame, seriesCol: String,
                     outPath: String, checkpoint: String,
                     trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    partitionedBatchSink(stream, (batch, _) =>
        graft.operators.Events.hourlyGrain(batch, seriesCol),
      "part_batch", outPath, checkpoint, trigger)

  /** Streaming interval attribution — [[asofEnrich]]'s range-containment
    * sibling: every micro-batch joined to a (slowly-rebuilt) interval
    * table via [[graft.operators.AsOf.intervalJoin]] (bucketed
    * decomposition — a naive BETWEEN per batch would nested-loop), with
    * the same replay-idempotence contract: one `enrich_batch=<id>`
    * partition per micro-batch under dynamic partition overwrite, so a
    * replayed batch rewrites itself. The composition an incident/
    * campaign pipeline needs when windows arrive from a control table
    * and events stream. */
  def intervalEnrich(stream: DataFrame, intervals: () => DataFrame,
                     tsCol: String, startCol: String, endCol: String,
                     bucketWidth: Long, ivCols: Seq[String],
                     outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    partitionedBatchSink(stream, (batch, _) =>
        graft.operators.AsOf.intervalJoin(batch, intervals(), tsCol,
          startCol, endCol, bucketWidth, ivCols),
      "enrich_batch", outPath, checkpoint, None)

  /** Continuous index maintenance: each micro-batch is checksum-gated
    * through the SAME anti-join upsert as the batch path (P4/J6) — the
    * streaming rendition of the reference's re-ingest story
    * (foreachBatch keeps the batch semantics exactly).
    *
    * State is parquet partitioned by a stable id bucket, and each batch
    * rewrites ONLY the partitions holding changed keys (dynamic partition
    * overwrite) — at 100 TB state a micro-batch touches ~|batch|/|state|
    * of the files instead of rewriting the table (round-4 verdict fix).
    * The anti-join also prunes its state read to the batch's buckets, so
    * the gate never scans clean partitions either. */
  /** True when `path` exists AND holds non-hidden entries. Existence must
    * mean "holds data": a crashed first write leaves only
    * _temporary/_SUCCESS, and treating that as readable state wedges the
    * stream on an unreadable-parquet error every retry. Any non-not-found
    * FS failure propagates and fails the micro-batch — a broad catch
    * would turn a transient read error into "state is empty". */
  private def pathHasData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Streaming near-duplicate ingest: each micro-batch dedupes within
    * itself and against the persisted corpus THROUGH its band index (an
    * equi-join probe on (band, band_key) — never batch × corpus), with
    * ONE exact-Jaccard verify over both kinds of candidate pair, then
    * appends only NOVEL documents to the corpus and their bands to the
    * index. This is the reference's incremental doctrine
    * (quran_mcp/embeddings.py:139-144) at stream cadence, and the shape a
    * 100 TB firehose ingest needs: per batch the work is
    * O(|batch| + band collisions), state grows append-only (no rewrite of
    * existing files), and the next batch's probe meets the enlarged index
    * in the same bucket-local join.
    *
    * Intra-batch near-dups resolve to the min-id survivor of each
    * verified component (two copies arriving in one micro-batch must not
    * both be "novel" — the same rule `near_dup_survivors` applies at
    * batch scale). A batch doc verified against the corpus is dropped
    * even when it is its component's survivor, and then the whole
    * component goes: A ~ B in the batch (A < B) and A ~ C in the corpus
    * drop both A and B. A document re-sent in a later batch with the
    * same id and text is dropped against its stored copy. Out of
    * contract: repeated ids within one batch, and a re-sent id whose
    * text changed (see [[nearDupIngestBatch]]).
    * [[Dedup.bandIndex]]'s hot-bucket cap applies per append; a bucket
    * that only crosses the cap across many appends is capped at the NEXT
    * index rebuild, not retroactively — the audit view
    * ([[Dedup.hotBuckets]]) over the index shows what a rebuild would
    * drop.
    *
    * `batchIdOffset` shifts the state-partition ids — REQUIRED when a
    * SECOND AvailableNow run (fresh checkpoint, so foreachBatch's
    * batchId restarts at 0) continues ingesting into the SAME
    * corpus/index paths: without it run 2's batch 0 would overwrite run
    * 1's `ingest_batch=0` partition AND prune it out of its own
    * cross-batch probe (the prior-batches read excludes the current
    * id). FRESH runs (checkpoint with no started batches) are GUARDED
    * at stream start: a non-zero offset must clear every existing
    * partition id in both stores (offset > max ingest_batch — an
    * offset of 1 after a 3-batch first run would overwrite its middle
    * partition), and a zero offset with existing state fails outright
    * (batch 0 would silently destroy `ingest_batch=0`; r13 advice).
    * RESUMED runs on their original checkpoint are exempt at ANY
    * offset — their batchIds continue where they left off, and a
    * replayed batch (crash between the state writes and the commit)
    * MUST be allowed to land on its own prior partition (r14 review:
    * the old offset>0 arm refused exactly that restart). */
  def nearDupIngest(stream: DataFrame, corpusPath: String, indexPath: String,
                    checkpoint: String, idCol: String, textCol: String,
                    threshold: Double = 0.9, numHashes: Int = 16,
                    rowsPerBand: Int = 16, maxBucket: Int = 10000,
                    trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
                    batchIdOffset: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val maxExisting = Seq(corpusPath, indexPath)
      .flatMap(p => maxIngestBatch(stream.sparkSession, p))
      .reduceOption(_ max _)
    // Resume ⇔ the checkpoint has STARTED batches: probe the offsets
    // log, not commits — Spark writes offsets/N BEFORE running batch N,
    // so a crash between the state writes and the commit (the exact
    // replay case nearDupIngestBatch's idempotency contract covers)
    // still reads as a resume; a commits-only probe would brick that
    // recovery. A RESUMED run is exempt from the collision guards at
    // ANY offset — its batchIds continue where they left off, and a
    // replayed batch MUST land on its own prior partition (the r14
    // review caught the offset>0 arm refusing exactly this restart,
    // which forced operators to bump the offset and duplicate the
    // orphaned partition).
    lazy val resumed = {
      val ck = new org.apache.hadoop.fs.Path(s"$checkpoint/offsets")
      val fs = ck.getFileSystem(stream.sparkSession.sparkContext.hadoopConfiguration)
      fs.exists(ck) && fs.listStatus(ck).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    }
    maxExisting.foreach { m =>
      if (!resumed) {
        if (batchIdOffset > 0)
          // a FRESH run with an offset must clear every existing id —
          // a colliding run would overwrite prior partitions and prune
          // them out of its own probe
          require(batchIdOffset > m,
            s"batchIdOffset=$batchIdOffset collides with existing state " +
              s"(max ingest_batch=$m): a colliding run would overwrite prior " +
              s"partitions and prune them out of its own probe")
        else
          // a FRESH checkpoint restarts batchIds at 0, so its batch 0
          // would silently overwrite ingest_batch=0 — the likeliest
          // operator error, failed loudly (r13 advice)
          require(false,
            s"fresh checkpoint ($checkpoint has no started batches) with " +
              s"existing state (max ingest_batch=$m) at offset 0: this run's " +
              s"batch 0 would overwrite ingest_batch=0 and prune it from its " +
              s"own probe — pass batchIdOffset > $m for a new run, or point " +
              s"at the original checkpoint to resume")
      }
    }
    val w0 = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    trigger.fold(w0)(w0.trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        nearDupIngestBatch(batch0, batchId + batchIdOffset, corpusPath,
          indexPath, idCol, textCol, threshold, numHashes, rowsPerBand,
          maxBucket)
      }
      .start()
  }

  /** Highest `ingest_batch=<id>` partition present under `path`, if any
    * — the [[nearDupIngest]] offset-collision guard's view of prior
    * state. Same failure doctrine as [[pathHasData]]: only not-found
    * means empty; transient FS errors propagate. */
  private def maxIngestBatch(spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("ingest_batch=") =>
        n.stripPrefix("ingest_batch=").toLong
      } match {
        case Seq() => None
        case ids => Some(ids.max)
      }
  }

  /** One [[nearDupIngest]] micro-batch, IDEMPOTENT under foreachBatch's
    * at-least-once retry semantics: state grows as one
    * `ingest_batch=<id>` partition subdir per batch in BOTH stores,
    * written with overwrite. A crash anywhere — between the two writes,
    * or after both but before the checkpoint commit — replays the batch,
    * and the replay (a) recomputes the same deterministic novel set
    * (hash-keyed dedup over the offset-replayed batch), because the
    * cross-batch probe reads only PRIOR batches' partitions (partition
    * pruning on `ingest_batch != id` — the current batch's own partial
    * output from the failed attempt must not count as corpus, or its
    * docs would collide with themselves and be lost on overwrite), then
    * (b) overwrites exactly its own two subdirs. Plain `mode("append")`
    * here would permanently duplicate doc_ids in the very corpus the
    * operator exists to deduplicate (round-8 advice). Prior batches'
    * partitions are always complete: Structured Streaming commits batch
    * N to the checkpoint before starting batch N+1.
    *
    * One exact-Jaccard verify per batch covers both dedup directions.
    * The candidate pairs are the batch's own band collisions (both ends
    * batch-side) plus its bands' hits in the persisted index (far end
    * corpus-side); the token sets are the batch's plus the corpus sets
    * of colliding ids only. Each is snapshotted once, as are the verified
    * pairs, and every snapshot is freed when the batch ends. The novel
    * set is the batch minus the non-min members of each verified
    * intra-batch component minus every doc verified against the corpus —
    * the same set as deduping within the batch first and probing the
    * corpus with the survivors, since the corpus probe only removes rows
    * and a doc's corpus verdict does not depend on the other batch docs.
    *
    * Batch and corpus token sets stay apart by a side tag, not by id, so
    * a document re-sent in a later batch with the same id and text
    * verifies at Jaccard 1.0 against its stored copy and is dropped. Out
    * of contract: repeated ids within one batch, and a re-sent id whose
    * text changed — it is verified against its old text like any other
    * doc and, when novel, stored a second time under the same id. */
  private[graft] def nearDupIngestBatch(batch0: DataFrame, batchId: Long,
      corpusPath: String, indexPath: String, idCol: String, textCol: String,
      threshold: Double = 0.9, numHashes: Int = 16, rowsPerBand: Int = 16,
      maxBucket: Int = 10000): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0.cache()
    // The batch's token sets and band keys are built ONCE and cached —
    // both are |batch|-scale (one row per doc / per doc·band, never
    // pair-scale). The token sets feed the signature build and the
    // verify's batch side; the band keys feed both candidate kinds and
    // the index append. One count fills both before any consumer runs
    // (banded's fill reads sized's): over a lazily-marked cache the
    // consumers' concurrent stage jobs stampede, each re-running the
    // batch tokenize+sign (measured r19, guide §2.4).
    val sized = Dedup.tokenSetsSized(batch, idCol, textCol).cache()
    val banded = Dedup.bandKeys(
      Dedup.minhashFromElems(
        sized.select(col("doc_id"), explode(col("shingles")).as("elem")),
        numHashes),
      rowsPerBand).cache()
    val snapshots = scala.collection.mutable.Set.empty[Int]
    def snapshot(df: DataFrame): DataFrame = {
      val (out, ids) = Dedup.trackedSnapshot(df)
      snapshots ++= ids
      out
    }
    // prior state, read with its known schema (no footer-inference job
    // per store) and pruned to OTHER batches' partitions (idempotency
    // note above)
    def prior(path: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(path)
        .where(col("ingest_batch") =!= batchId).drop("ingest_batch")
    try {
      banded.count()
      val hasPrior = hasPriorBatches(spark, corpusPath, batchId) &&
        hasPriorBatches(spark, indexPath, batchId)
      // 1. candidates (a, a_side, b, b_side), side 0 = batch, 1 = corpus:
      //    the batch's own band pairs plus its bands' hits in the index
      // 2. token sets: the batch's cached sets, plus corpus-side sets for
      //    colliding ids only — tokenizing the whole prior corpus per
      //    batch is what the index probe exists to avoid
      // Both are snapshotted when a corpus exists: the candidates feed
      // the corpus-side prune and the verify, and the verify reads the
      // token sets four times. Without one, both are batch-only frames
      // read straight from the caches.
      def tagged(pairs: DataFrame, bSide: Int): DataFrame =
        pairs.select(col("a"), lit(0).as("a_side"), col("b"), lit(bSide).as("b_side"))
      val intraCand = tagged(Dedup.candidatesFromBands(banded, maxBucket), 0)
      val batchSets = sized.withColumn("side", lit(0))
      val (cand, sets) =
        if (!hasPrior) (intraCand, batchSets)
        else {
          val cand = snapshot(intraCand.unionByName(tagged(
            banded.select(col("band"), col("band_key"), col("doc_id").as("a"))
              .join(prior(indexPath, IngestIndexSchema)
                .select(col("band"), col("band_key"), col("doc_id").as("b")),
                Seq("band", "band_key"))
              .select("a", "b").distinct(), 1)))
          val priorCorpus = prior(corpusPath,
            batch.schema.add("ingest_batch", LongType))
          val colliding = priorCorpus.join(
            cand.where(col("b_side") === 1).select(col("b").as("__cand_b")),
            priorCorpus(idCol).cast("long") === col("__cand_b"), "left_semi")
          (cand, snapshot(batchSets.unionByName(
            Dedup.tokenSetsSized(colliding, idCol, textCol).withColumn("side", lit(1)))))
        }
      // 3. one verify; intra-batch edges close into min-id components,
      //    every batch doc verified against the corpus is a dup outright
      val verified = snapshot(Dedup.verifyPairs(sets, cand, threshold))
      val intraDup = Dedup.connectedComponents(verified.where(col("b_side") === 0))
        .where(col("doc_id") =!= col("component"))
        .select(col("doc_id").as("dup"))
      val crossDup = verified.where(col("b_side") === 1).select(col("a").as("dup"))
      // evaluated once, feeds both writes below; the dup ids are a
      // subset of the batch's, one long each, so they ride a broadcast
      val novel = snapshot(batch.join(broadcast(intraDup.unionByName(crossDup)),
        col(idCol).cast("long") === col("dup"), "left_anti"))
      // 4. append-only state growth — at the BATCH granularity: new
      //    partitions accrete, existing ones are never rewritten (except a
      //    retry overwriting its own), so per batch the I/O is
      //    O(|batch| + collisions) regardless of corpus size. The index
      //    append derives from the same cached bands (semi-join on the
      //    novel ids == Dedup.bandIndex(novel), minus the rebuild).
      novel.write.mode("overwrite")
        .parquet(s"$corpusPath/ingest_batch=$batchId")
      Dedup.indexFromBands(
        banded.join(novel.select(col(idCol).cast("long").as("doc_id")),
          Seq("doc_id"), "left_semi"),
        maxBucket)
        .write.mode("overwrite").parquet(s"$indexPath/ingest_batch=$batchId")
    } finally {
      Dedup.freeTracked(spark, snapshots.toSet)
      sized.unpersist(); banded.unpersist(); batch.unpersist()
    }
  }

  /** Row schema of the [[nearDupIngest]] band index store: what
    * [[Dedup.indexFromBands]] writes plus the partition column. */
  private val IngestIndexSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("band_key", LongType),
    StructField("doc_id", LongType), StructField("ingest_batch", LongType)))

  /** True when `path` holds state from a batch OTHER than `batchId`:
    * non-hidden entries besides the current batch's own
    * `ingest_batch=<id>` subdir (which a failed prior attempt may have
    * left partially written). Same failure doctrine as [[pathHasData]]:
    * only not-found means empty; transient FS errors propagate. */
  private def hasPriorBatches(spark: SparkSession, path: String,
                              batchId: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && n != s"ingest_batch=$batchId"
    }
  }

  def incrementalUpsert(stream: DataFrame, statePath: String,
                        idCol: String, checksumCol: String,
                        checkpoint: String,
                        nBuckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val spark = batch0.sparkSession
        val batch = batch0
          .withColumn("bucket", pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)))
          .cache()
        // batch-side bucket list: bounded by nBuckets, a legitimate
        // driver-side planning collect (it becomes partition pruning)
        val batchBuckets = batch.select("bucket").distinct()
          .collect().map(_.getLong(0)).toSeq
        // Probe state existence explicitly ([[pathHasData]]): ONLY a
        // missing/empty path means empty state — a transient read failure
        // must fail the micro-batch, or the dynamic overwrite below would
        // replace whole bucket partitions with batch-only rows, silently
        // dropping prior state.
        val hasData = pathHasData(spark, statePath)
        val prevAll =
          if (hasData) spark.read.parquet(statePath)
          else batch.limit(0)
        val changed = Incremental.changed(
          batch, prevAll.where(col("bucket").isin(batchBuckets: _*)),
          idCol, checksumCol).cache()
        val dirty = changed.select("bucket").distinct()
          .collect().map(_.getLong(0)).toSeq
        if (dirty.nonEmpty) {
          val prevDirty = prevAll.where(col("bucket").isin(dirty: _*))
          // localCheckpoint cuts lineage: the merged frame reads the very
          // files the dynamic overwrite is about to replace
          val merged = Incremental.upsert(prevDirty, changed, idCol)
            .localCheckpoint()
          // writer-scoped option — never mutate the session-global conf
          // (another concurrent partitioned overwrite in this session
          // could silently inherit dynamic semantics)
          merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(statePath)
        }
        batch.unpersist(); changed.unpersist(); ()
      }
      .start()

  /** Streaming type-2 SCD maintenance — [[incrementalUpsert]]'s
    * history-preserving sibling: each micro-batch merges through the
    * SAME [[graft.operators.Incremental.scd2Merge]] as the batch path,
    * with `asOf = batchId` (versions are stamped at batch granularity).
    * State is parquet partitioned by a key-hash bucket; a batch
    * rewrites ONLY the buckets holding keys whose attrs null-safe
    * DIFFER from their current open row (or brand-new keys) — dynamic
    * partition overwrite + a bucket-pruned state read — so at 100 TB
    * of history a micro-batch touches ~|changed|/|state| of the files,
    * and a heartbeat/replay batch of unchanged keys writes nothing.
    *
    * Replay-idempotent BY the merge semantics: re-running batch B
    * against already-merged state finds every key unchanged and skips
    * the write outright. Same-key rows
    * within one micro-batch resolve deterministically to the
    * lexicographically greatest attr tuple (arrival order inside a
    * batch is meaningless; pre-dedupe upstream for a different rule). */
  def scd2Stream(stream: DataFrame, statePath: String, keyCol: String,
                 attrCols: Seq[String], checkpoint: String,
                 nBuckets: Int = 64,
                 trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val clash = Seq("bucket", "valid_from", "valid_to")
      .filter((keyCol +: attrCols).contains)
    require(clash.isEmpty,
      s"key/attr columns collide with SCD2 state column names: $clash")
    val w0 = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
    trigger.fold(w0)(w0.trigger)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val dedup = batch0.groupBy(col(keyCol))
          .agg(max(struct(attrCols.map(col): _*)).as("_a"))
          .select(col(keyCol) +: attrCols.map(c => col(s"_a.$c").as(c)): _*)
          .withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))
          .cache()
        val batchBuckets = dedup.select("bucket").distinct()
          .collect().map(_.getLong(0)).toSeq
        val hasData = pathHasData(spark, statePath)
        val prevB =
          if (hasData)
            spark.read.parquet(statePath)
              .where(col("bucket").isin(batchBuckets: _*))
          else
            dedup.withColumn("valid_from", lit(0L))
              .withColumn("valid_to", lit(null).cast("long")).limit(0)
        // dirty pruning (the incrementalUpsert shape): only keys whose
        // attrs null-safe-differ from the current open row — or new
        // keys — make a bucket dirty; heartbeat/replay batches of
        // unchanged keys rewrite NOTHING, and an all-clean batch skips
        // the write job entirely
        val open = prevB.where(col("valid_to").isNull)
        val changedCond = col(s"u.$keyCol") === col(s"c.$keyCol") &&
          attrCols.map(a => col(s"u.$a") <=> col(s"c.$a")).reduce(_ && _)
        val changed = dedup.as("u")
          .join(open.as("c"), changedCond, "left_anti").cache()
        val dirty = changed.select("bucket").distinct()
          .collect().map(_.getLong(0)).toSeq
        if (dirty.nonEmpty) {
          val merged = Incremental.scd2Merge(
              prevB.where(col("bucket").isin(dirty: _*)),
              changed.drop("bucket"), keyCol, attrCols, asOf = batchId)
            .withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))
            .localCheckpoint()
          merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(statePath)
        }
        dedup.unpersist(); changed.unpersist(); ()
      }
      .start()
  }

  final case class KV(user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n_events: Long, sum_value: Double)

  /** [[org.apache.spark.sql.streaming.StatefulProcessor]] for
    * [[runningTotals]] — Spark 4's `transformWithState` arbitrary-state
    * API (the successor to flatMapGroupsWithState, used by the
    * sessionize/anomaly operators above; a complete engine speaks
    * both): one composable named `ValueState` cell per user holding
    * (count, sum), updated per micro-batch, running totals emitted on
    * every batch the key appears in. TTLConfig.NONE — the registered
    * run is bounded; a production deployment sets a TTL and lets the
    * store expire cold keys instead of growing forever. */
  private class TotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KV, UserTotal] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[KV],
                                 tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTotal] = {
      var (n, s) = if (st.exists()) st.get() else (0L, 0.0)
      rows.foreach { r => n += 1; s += r.value }
      st.update((n, s))
      Iterator.single(UserTotal(key, n, s))
    }
  }

  /** Running per-user totals via `transformWithState` — the Spark 4
    * arbitrary-state operator (RocksDB-backed: callers set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider, which transformWithState requires). Emits each user's
    * RUNNING (count, sum) in every micro-batch the user appears in, so
    * a multi-batch run's final row per user — the max-count one —
    * equals the batch aggregate (count strictly grows per emission:
    * batching-invariant), while the intermediate rows prove the state
    * actually crossed batches. State is one fixed-size cell per key:
    * at 100 TB/day the store holds |active keys| cells, not history,
    * and a TTL bounds even that. */
  def runningTotals(stream: DataFrame, scratchDir: String,
                    timeoutMs: Long = 600000L): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val out = stream.select(col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value")).as[KV]
      .groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF()
    runToParquet(out, scratchDir, timeoutMs)
  }
}
