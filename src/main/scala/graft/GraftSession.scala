package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Unlike the reference, which opens its indexes per request
  * (reference: mcp_server/tools.py:53-57 — an inefficiency SURVEY.md §7.5
  * flags), graft is built around one long-lived SparkSession whose cached
  * DataFrames play the role of the reference's SQLite/Chroma handles.
  */
object GraftSession {
  /** Generated-class cache size DERIVED from the registry, not pinned
    * (r16 verdict #7): the r16 fix shipped 12000 as a static number
    * sized to that round's 160-query registry — at 300+ queries the
    * same eviction cliff would have returned silently. The measured
    * sizing rule is ~75 distinct generated classes per registered query
    * (160 queries ↔ 12000 — the value that removed the cliff), and the
    * floor keeps today's measured-good value as the minimum. Each cache
    * entry is one compiled class (code-keyed), so over-sizing costs
    * only metaspace headroom, never correctness. */
  val CodegenCacheEntries: Int = math.max(12000, Queries.all.size * 75)

  def builder(appName: String = "graft", cores: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the driver's `events` table stores TIMESTAMP(NANOS); Spark 4 only
      // reads it via the legacy long mapping (we convert explicitly).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generated-class cache (STATIC conf — first session in the JVM
      // pins it; default 100). A long-lived session serving a WIDE query
      // mix thrashes 100 entries — every distinct plan stage is one
      // cache key, and eviction means a Janino recompile (~50-300 ms)
      // on the next planning of an evicted stage. Measured r16: a
      // 4-query session at the default re-planned quran_search_fts at
      // 4.27 s vs 2.37 s with the cache sized to the workload — the
      // "generic heavy-neighbor slowdown" was codegen-cache eviction.
      // Sized from the registry (not a constant) so the eviction cliff
      // cannot silently return as the registry grows — see
      // [[GraftSession.CodegenCacheEntries]].
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")

  /** Local cores of the timing mains (Bench, BenchServe, BenchSkew, Soak,
    * Probe): `SPARK_GRAFT_CPUS`, else every processor of the machine. */
  def envCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def local(appName: String = "graft", cores: String = "32"): SparkSession = {
    val s = builder(appName, cores).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Tune an existing session for the WARM SERVING path: narrow shuffles
    * (candidate sets are tens of rows, not batch width) and AQE off —
    * serving plans are small and already right (broadcast probes,
    * TakeOrdered top-k), so AQE's per-query stage re-planning is pure
    * added latency (measured −20–30% p50 with it disabled at sf0.1).
    * Call AFTER the engine opens / index builds: those are batch work
    * and should keep AQE's skew/coalesce handling.
    *
    * Default width 1: every per-QUERY exchange moves a candidate set
    * (≤ ~60 rows after the top-k probes), where multi-partition shuffles
    * are pure task-scheduling overhead — width 1 drops 2 stages / 8
    * tasks from a warm search and ~18% of p50 (r8 measurement). The
    * cached index LAYERS keep the width they were built with, so corpus
    * scans stay parallel; only the per-query exchanges narrow. */
  def tuneForServing(s: SparkSession, shufflePartitions: Int = 1): SparkSession = {
    s.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }
}
