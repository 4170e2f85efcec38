package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The requested row names that match no registered row, sorted — a
    * typo in the optional row list must stop the gate, not silently
    * gate nothing for that row. */
  def unknownRows(requested: Set[String], registered: Set[String]): Seq[String] =
    (requested -- registered).toSeq.sorted

  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only — the driver passes two): comma-list of
    // query names to dump/compare, for fast single-oracle iteration
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    // checked before the Spark session starts: a mistyped name fails
    // in a second instead of after the whole selected dump
    only.foreach { names =>
      val unknown = unknownRows(names, SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(
          s"[verify] unknown row name(s), not in SparkEntry.queries: ${unknown.mkString(", ")}")
        sys.exit(2)
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the full registry in one session thrashes the default 100-entry
      // generated-class cache (see Bench.main) — size it to the workload
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // Auxiliary full-vector dump (NOT a registered/compared query): the
    // npz binary has no SQL reader, so the npz_embeddings digest oracle
    // and quran_hybrid's vector leg replay over this parquet in DuckDB.
    // It lives in a SIBLING dir, not under outDir: the driver compares
    // every subdir of outDir, and the raw array<float> column crashes its
    // pandas hasher — a phantom red row for something that isn't a query
    // (the r8 `npz_embeddings_full` failure).
    val auxDir = Paths.get(outDir).toAbsolutePath.toString + "_aux"
    // selected-oracle view (identical to the full map in the driver's
    // 2-arg call); the aux dump is skipped when no selected oracle
    // replays over it — the single-query dev loop stays fast
    val selected = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
    if (selected.values.exists(_.contains("__VERIFY_AUX__")))
      try graft.sources.Npz.embeddings(spark, Queries.NpzPath)
        .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/npz_embeddings_full")
      catch { case e: Throwable =>
        System.err.println(s"[verify] npz_embeddings_full dump failed: ${e.getMessage}")
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle SQL may replay over THIS run's dumped parquet (e.g. the
    // quran_hybrid vector leg reads the npz_embeddings dump, the only
    // SQL-readable form of the binary cache) — bake the AUX dump dir in
    val json = selected
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__VERIFY_AUX__", auxDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
