package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The lexical inverted index as DataFrames (SURVEY.md §1.4, §7.3).
  *
  * Replaces the reference's SQLite FTS5 virtual tables
  * (mcp_server/apps/fts.py:263-290; quran_mcp/search.py:46-72) with two
  * derived tables that shard naturally across a cluster:
  *
  *   postings   (doc_id, dl, term, tf)   — one row per (doc, term)
  *   dictionary (term, df, cf)           — document/corpus frequencies
  *
  * Both are pure explode/groupBy jobs: map-side partial aggregation applies,
  * the shuffle key is `term` (resp. (doc_id, term)), and at 100 TB the
  * postings table would be written bucketed by `term` so query-time probes
  * co-locate with the dictionary without a shuffle.
  */
object Postings {

  /** Run independent materialization actions as CONCURRENT Spark jobs —
    * an engine open on an otherwise idle cluster should saturate it, not
    * walk its layers one count() at a time. Callers group actions into
    * dependency waves (a layer and its parent never share a wave, so a
    * cached parent is computed once, not raced). Every action's outcome
    * is captured and ALL siblings are awaited before the first failure
    * is rethrown, so a failed open never leaves wave members still
    * running behind the caller's back. */
  private[graft] def awaitAll(actions: Seq[() => Unit]): Unit =
    actions.map(onPool(_)).map(Await.result(_, Duration.Inf))
      .collectFirst { case Left(t) => t }.foreach(t => throw t)

  /** Run two bounded actions (e.g. the two probe legs of a hybrid
    * search) as CONCURRENT Spark jobs and return both results. Same
    * failure discipline as [[awaitAll]]. */
  private[operators] def await2[A, B](a: () => A, b: () => B): (A, B) = {
    val (fa, fb) = (onPool(a), onPool(b))
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf)) match {
      case (Right(x), Right(y)) => (x, y)
      case (ra, rb) => throw Seq(ra, rb).collectFirst { case Left(t) => t }.get
    }
  }

  /** `f` as a pool task whose outcome is captured (fatal throwables
    * included — a bare Future(f()) would never complete on
    * OutOfMemoryError and an Await on it would hang forever).
    *
    * Spark's job group, description and interrupt flag are thread-local
    * properties that a pool thread inherits from whichever thread created
    * it, so the task is given the CALLER's values (or none) and clears
    * them afterwards: a harness that caps a query via `cancelJobGroup`
    * reaches its jobs, and no job carries a stale group. */
  private def onPool[T](f: () => T): Future[Either[Throwable, T]] = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val props = sc.toSeq.flatMap(c => GroupKeys.map(k => k -> c.getLocalProperty(k)))
    Future {
      sc.foreach(c => props.foreach { case (k, v) => c.setLocalProperty(k, v) })
      try Right(f()) catch { case t: Throwable => Left(t) }
      finally sc.foreach(_.clearJobGroup())
    }(ExecutionContext.global)
  }

  private val GroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Build postings from a document table — SHUFFLE-FREE (r13): term
    * frequencies are computed inside each document row
    * ([[graft.plans.TermTf]] — a doc's counts depend on nothing outside
    * the doc) and exploded, replacing the old
    * `groupBy(doc_id, dl, term).count` whose exchange moved the whole
    * postings table once before [[clusterByTerm]] moved it again.
    * Identical rows (tf values, dl, column types); requires unique
    * corpus ids, which every caller's corpus has by construction. */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      TextFns.tokens(col(textCol)).as("toks"))
    toks
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(graft.plans.TermTf(col("toks"))).as("e"))
      .select(col("doc_id"), col("dl"),
        col("e.term").as("term"), col("e.tf").cast("long").as("tf"))
  }

  /** (term, df, cf) dictionary from postings. */
  def dictionary(postings: DataFrame): DataFrame =
    postings.groupBy("term")
      .agg(countDistinct("doc_id").as("df"), sum("tf").as("cf"))

  /** Single-row corpus stats (n_docs, sum_dl) — the BM25 constants.
    * Kept as a DataFrame (cross-joined broadcast) instead of a collect so
    * the whole scoring plan stays lazy/distributed. */
  def corpusStats(postings: DataFrame): DataFrame =
    postings.select("doc_id", "dl").distinct()
      .agg(count("*").as("n_docs"), sum("dl").as("sum_dl"))

  /** Cluster a postings frame by term for RESIDENT (cached) serving — the
    * in-memory analog of [[saveBucketed]]'s term buckets: after the
    * repartition+sort, each cached columnar batch covers a tight term
    * range, so a term-probe FILTER (isin/prefix) skips every batch whose
    * min/max stats exclude the probe — the seek behavior of the inverted
    * index this table stands in for. One build-time shuffle; width
    * follows the session's shuffle setting. */
  def clusterByTerm(postings: DataFrame): DataFrame =
    postings.repartition(col("term")).sortWithinPartitions("term")

  /** Partition width for RESIDENT (cached) index layers: follows the
    * DATA, not the session. Every per-query probe stage over a cached
    * layer schedules one task per partition, so a domain-bounded corpus
    * (thousands of docs) wants 1-2 partitions — task scheduling costs
    * more than the scan — while a corpus-scale table keeps its width
    * (the formula never asks to repartition UP; callers only coalesce
    * DOWN to it). ~4k docs per partition ≈ a few hundred k postings
    * rows per task: single-digit-ms scans of resident columnar batches.
    * This is why a persisted layout (few parquet splits) was measured
    * serving ~2× faster than the same index built in-memory at session
    * width — the layers now match the persisted shape by construction. */
  def serveWidth(docRows: Long, sessionWidth: Int): Int =
    math.max(1L, math.min(sessionWidth.toLong, (docRows + 4095) / 4096)).toInt

  /** S9 persistence: the postings table bucketed (and sorted) by term —
    * query-time probes and the dictionary groupBy then run shuffle-free
    * on the bucket layout (the cluster-scale stand-in for SQLite's
    * inverted-index B-tree). `path` makes the table EXTERNAL (data at a
    * caller-owned directory); `partitionCols` layers directory
    * partitioning (e.g. by `field`) on top of the term buckets, so a
    * field-scoped probe prunes partitions AND meets the dictionary
    * without a shuffle. */
  def saveBucketed(postings: DataFrame, table: String, numBuckets: Int = 64,
                   path: Option[String] = None,
                   partitionCols: Seq[String] = Nil): Unit = {
    var w = postings.write.mode("overwrite").format("parquet")
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w = w.bucketBy(numBuckets, "term").sortBy("term")
    path.foreach(p => w = w.option("path", p))
    w.saveAsTable(table)
  }

  /** Open a [[saveBucketed]] layout in a FRESH session: bucket metadata
    * lives in the session CATALOG, not in the parquet files, so a plain
    * `spark.read.parquet(path)` would scan the same bytes but lose the
    * shuffle-free bucket partitioning — the table must be re-registered
    * first. Idempotent: if the catalog already has the table (e.g. the
    * writing session), it is returned as-is.
    *
    * Layouts persisted by an earlier release (plain `partitionBy`
    * parquet, no bucket ids in the file names) would fail Spark's
    * bucket-file validation at read time if registered as bucketed, so
    * the directory is sniffed first: if its data files lack the
    * `_NNNNN` bucket suffix, the table is NOT registered and a plain
    * parquet read is returned with a warning (correct results, one
    * extra shuffle on term probes — re-run [[saveBucketed]] to
    * upgrade). */
  def openBucketed(spark: org.apache.spark.sql.SparkSession, table: String,
                   path: String, numBuckets: Int = 64,
                   partitionCols: Seq[String] = Nil): DataFrame = {
    if (!spark.catalog.tableExists(table)) {
      if (!looksBucketed(spark, path)) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"postings at $path predate bucketed layout (no bucket-id file names); " +
            "falling back to a plain parquet read — re-save with saveBucketed to " +
            "restore shuffle-free term probes")
        return spark.read.parquet(path)
      }
      val ddlCols = spark.read.parquet(path).schema.toDDL
      val part =
        if (partitionCols.nonEmpty) s"PARTITIONED BY (${partitionCols.mkString(", ")})"
        else ""
      spark.sql(
        s"""CREATE TABLE $table ($ddlCols) USING parquet $part
           |CLUSTERED BY (term) SORTED BY (term) INTO $numBuckets BUCKETS
           |LOCATION '$path'""".stripMargin)
      // external-table partitions are discovered from the directory layout
      if (partitionCols.nonEmpty) spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
    }
    spark.table(table)
  }

  // Spark bucket files carry `_<bucketId>` before the extension
  // (part-00000-<uuid>_00003.c000.snappy.parquet); pre-bucketing writers
  // emit only dash-separated names. Mirrors BucketingUtils.getBucketId.
  private val BucketedFileRe = """.*_(\d+)(?:\..*)?$""".r

  /** True iff the FIRST data file found under `path` (recursing through
    * partition directories, skipping `_`/`.` metadata entries) carries a
    * bucket-id suffix. One file decides: Spark writes all-or-none. */
  private def looksBucketed(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def firstDataFile(p: Path): Option[String] = {
      val entries = fs.listStatus(p).filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      entries.collectFirst { case st if st.isFile => st.getPath.getName }
        .orElse(entries.iterator.filter(_.isDirectory)
          .map(st => firstDataFile(st.getPath)).collectFirst { case Some(n) => n })
    }
    firstDataFile(root).exists {
      case BucketedFileRe(_) => true
      case _ => false
    }
  }
}
