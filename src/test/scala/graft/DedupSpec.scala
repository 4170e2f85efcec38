package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the mat"), // exact dup of 1
    (3L, "the cat sat on the red mat"), // near dup
    (4L, "completely different words entirely here now")
  ).toDF("doc_id", "text")

  test("exact dedup groups by content hash, survivor = min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val dup = g.find(_.getLong(2) === 2L).get
    assert(dup.getLong(1) === 1L) // survivor
    assert(g.count(_.getLong(2) === 1L) === 2)
  }

  test("keepBest is deterministic and idempotent") {
    val once = Dedup.keepBest(docs, md5($"text"), Seq(asc("doc_id")))
    val twice = Dedup.keepBest(once, md5($"text"), Seq(asc("doc_id")))
    assert(once.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 3L, 4L))
    assert(twice.count() === once.count())
  }

  test("minhash LSH finds the exact dup pair; jaccard verify scores it 1.0") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
    val cand = Dedup.lshCandidatePairs(sigs, 4)
    val pairs = Dedup.jaccardVerify(docs, "doc_id", "text", cand, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("fused band_key equals the 60-bit md5 prefix of the band's minh sequence (oracle twin)") {
    // bandKeys now carries TextFns.hash60(minh-sequence) instead of the
    // 32-char md5 hex string; the DuckDB twin parses the same 15 hex
    // chars of the same md5 — pin the value identity on the composed
    // md5-string form here so the two derivations can never drift
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
    val banded = Dedup.bandKeys(sigs, 4)
    assert(banded.schema("band_key").dataType ===
      org.apache.spark.sql.types.LongType)
    val composed = sigs
      .withColumn("band", (col("seed") / 4).cast("int"))
      .groupBy("doc_id", "band")
      .agg(conv(substring(md5(concat_ws(":",
        transform(array_sort(collect_list(struct(col("seed"), col("minh")))),
          s => s.getField("minh").cast("string")))), 1, 15), 16, 10)
        .cast("long").as("bk"))
    val joined = banded.join(composed, Seq("doc_id", "band"))
    assert(joined.count() > 0)
    assert(joined.where(col("band_key") =!= col("bk")).count() === 0)
  }

  test("simhash pairs at hamming 0 contain the exact dup; banding loses nothing <= maxHamming") {
    val sim = Dedup.simhash(docs, "doc_id", "text", 32)
    val banded = Dedup.simhashPairs(sim, maxHamming = 3, bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force reference on the tiny corpus
    val fp = sim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- fp.keys; b <- fp.keys if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(banded === brute)
  }

  test("nearDupStage memo sees fresh data after a directory rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stage").toString
    docs.write.mode("overwrite").parquet(dir)
    val first = Dedup.nearDupStage(spark.read.parquet(dir), "doc_id", "text")
      .groups.count()
    // overwrite in place: same root path (same plan semantic hash), fresh
    // part-file names — the second call must read the new files, not
    // anything left from the first
    Seq((10L, "alpha beta gamma"), (11L, "alpha beta gamma"), (12L, "alpha beta gamma"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val groups = Dedup.nearDupStage(spark.read.parquet(dir), "doc_id", "text").groups
    val comps = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.keySet === Set(10L, 11L, 12L), s"stale memo? first=$first got=$comps")
    assert(comps.values.toSet === Set(10L))
  }

  test("nearDupStage rebuilds when its checkpoint blocks are swept away") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sweep").toString
    docs.write.mode("overwrite").parquet(dir)
    val staged = Dedup.nearDupStage(spark.read.parquet(dir), "doc_id", "text")
    staged.groups.count() // materialize groups off the staged pairs
    // an outside isolation sweep (Bench does exactly this between cold
    // queries) frees the localCheckpoint blocks; lineage is cut, so a
    // later call that re-read them would die with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val again = Dedup.nearDupStage(spark.read.parquet(dir), "doc_id", "text")
    assert(again.survivors.count() === 3) // doc 2 deduped away, not an error
  }

  test("cold runs of near_dup_survivors keep nothing across calls") {
    // the registered query, timed the way Bench times it: the second cold
    // run must pay its own pipeline (the same jobs as the first), not read
    // frames or snapshots the first one left behind
    val sf = "/root/testdata/sf0.001"
    val fn = Queries.all("near_dup_survivors")
    val tally = graft.obs.SparkTally.attach(spark.sparkContext)
    try {
      val jobs = (1 to 2).map { i =>
        val pre = tally.totals()
        val run = Bench.coldRun(spark, sf, "near_dup_survivors", fn,
          s"residency-$i", Bench.queryCapS)
        assert(run.err.isEmpty, s"run $i failed: ${run.err}")
        (tally.totals() - pre).jobs
      }
      assert(jobs.head > 0 && jobs(1) === jobs.head, s"jobs per run: $jobs")
    } finally tally.detach()
  }

  test("near-dup plans contain no nested-loop join (round-3 verdict gate)") {
    val sim = Dedup.simhash(docs, "doc_id", "text", 32)
    val plans = Seq(
      Dedup.simhashPairs(sim, 3, 32).queryExecution.executedPlan.toString,
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1).queryExecution.executedPlan.toString,
      Dedup.ngramJaccardPairsSharedShingle(docs, "doc_id", "text", 3, 0.1).queryExecution.executedPlan.toString)
    plans.foreach(p => assert(!p.contains("BroadcastNestedLoopJoin"), "found nested loop"))
  }

  test("exact dedup normalization merges whitespace/case variants when enabled") {
    val v = Seq((1L, "The Cat  sat"), (2L, "the cat sat"), (3L, "other"))
      .toDF("doc_id", "text")
    assert(Dedup.exactGroups(v, "doc_id", "text").count() === 3) // raw bytes differ
    val n = Dedup.exactGroups(v, "doc_id", "text", normalize = true).collect()
    assert(n.length === 2)
    assert(n.find(_.getLong(2) === 2L).get.getLong(1) === 1L) // survivor = min id
  }

  test("adversarial all-identical corpus: hot buckets are capped, not quadratic") {
    // 600 identical docs -> every band bucket holds all 600 members; with
    // maxBucket below that, candidate generation drops the bucket instead
    // of emitting 600²/2 pairs in one task
    val clones = (1L to 600L).map(i => (i, "same text repeated in every document"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(clones, "doc_id", "text", 16)
    assert(Dedup.lshCandidatePairs(sigs, 4, maxBucket = 100).count() === 0)
    val sim = Dedup.simhash(clones, "doc_id", "text", 32)
    assert(Dedup.simhashPairs(sim, 3, 32, maxBucket = 100).count() === 0)
    // the drop is auditable, not silent
    val banded = sigs.withColumn("band", (col("seed") / 4).cast("int"))
      .groupBy("doc_id", "band")
      .agg(md5(concat_ws(":", transform(array_sort(collect_list(struct(col("seed"), col("minh")))),
        s => s.getField("minh").cast("string")))).as("band_key"))
    val hot = Dedup.hotBuckets(banded, Seq("band", "band_key"), 100).collect()
    assert(hot.length === 4 && hot.forall(_.getLong(2) === 600L)) // 4 bands, all hot
    // below the cap nothing changes: the small-corpus pair survives
    val sigsSmall = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
    val cand = Dedup.lshCandidatePairs(sigsSmall, 4, maxBucket = 100)
    assert(Dedup.jaccardVerify(docs, "doc_id", "text", cand, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("near-dup embedding pairs cap hot vector buckets the same way") {
    val e = (1L to 300L).map(i => (i, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    assert(Similarity.nearDupPairs(e, "vec_id", "embedding", 0.9, 8,
      nBits = 4, nBands = 2, maxBucket = 50).count() === 0)
    // distinct vectors under the cap still pair up
    val e2 = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val p = Similarity.nearDupPairs(e2, "vec_id", "embedding", 0.9, 4,
      nBits = 4, nBands = 2, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p.contains((1L, 2L)))
  }

  test("ngram jaccard respects the df cap (hot shingles generate no candidates)") {
    val many = (1L to 30L).map(i => (i, s"common shingle text block unique$i tail"))
      .toDF("doc_id", "text")
    // shared 3-shingle "common_shingle_text" has df=30 > cap=5 -> no pairs from it
    val pairs = Dedup.ngramJaccardPairsSharedShingle(many, "doc_id", "text", 3, 0.01, maxDf = 5)
    assert(pairs.count() === 0)
  }

  test("connected components collapse transitive near-dup chains to min-id groups") {
    import spark.implicits._
    // triangle {1,2,3} via chain only (no (1,3) pair), pair {10,11},
    // 4-chain {20..23} — every node must label to its component's min id
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("union-find CC equals min-label propagation on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      // self-loops stay IN: both forms must return (x,x)-only nodes as
      // singleton components
      val pairs = Seq.fill(12 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = pairs.toDF("a", "b")
      // both forms: driver union-find (small-graph fast path) and the
      // distributed min-label loop (forced via threshold 0) — one
      // fixpoint, two engines
      val viaUnionFind = Dedup.connectedComponents(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val viaLabels = Dedup.connectedComponents(df, smallGraphEdges = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaUnionFind === viaLabels, s"trial $trial union-find drift")
    }
  }

  test("incremental near-dup: delta probes the band index, novel docs pass") {
    import spark.implicits._
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "completely unrelated text about other things"),
      (3L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1, near 3
      (20L, "totally novel content words nothing shared")).toDF("doc_id", "text")
    val idx = Dedup.bandIndex(existing, "doc_id", "text",
      numHashes = 16, rowsPerBand = 4)
    val got = Dedup.incrementalNearDupPairs(idx, existing, delta,
      "doc_id", "text", threshold = 0.5, numHashes = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((10L, 1L)), "exact duplicate must be caught")
    assert(!got.exists(_._1 == 20L), "novel doc must produce no pair")
    // delta ids only ever appear on the a side (probe → index direction)
    assert(got.forall { case (a, b) => a >= 10L && b < 10L })
  }

  test("topKPerGroup equals the window form on random skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // hot group 0 (~half the rows), duplicate order values, null order
    // and null group rows; 32 partitions so partial heaps really merge
    val rows = (0 until 800).map { i =>
      val g = if (rnd.nextInt(2) == 0) "g0" else s"g${rnd.nextInt(6) + 1}"
      (i.toLong,
        if (i % 97 == 0) null else g,
        if (i % 89 == 0) null else java.lang.Long.valueOf(rnd.nextInt(40).toLong))
    }
    val df = rows.toDF("doc_id", "g", "v").repartition(32)
    for (k <- Seq(1, 3, 10, 1000)) {
      def key(x: (Long, String, Long)) = (Option(x._2).getOrElse(""), x._1)
      val got = Dedup.topKPerGroup(df, Seq("g"), "v", "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(key).toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(desc("v"), asc("doc_id"))
      val expected = df.where(col("v").isNotNull)
        .withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(key).toSeq
      assert(got === expected, s"k=$k")
    }
    intercept[IllegalArgumentException] {
      Dedup.topKPerGroup(df.withColumn("v", col("v").cast("double")),
        Seq("g"), "v", "doc_id", 3)
    }
    // Long.MinValue order values: a negate-based heap comparator wraps
    // and evicts the wrong row (regression pin for the explicit compare)
    val extreme = Seq((1L, "g", Long.MinValue), (2L, "g", 1L), (3L, "g", 2L))
      .toDF("doc_id", "g", "v").coalesce(1)
    val kept = Dedup.topKPerGroup(extreme, Seq("g"), "v", "doc_id", 2)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L), "MinValue row must be the one evicted")
  }

  test("dupSpanStats: overlapping shared spans union; unique docs report zero") {
    import spark.implicits._
    val d = Seq(
      // docs 1+2 share the 6-token run "a b c d e f": two overlapping
      // 5-grams -> 6 covered tokens each, never 10
      (1L, "a b c d e f x y"),
      (2L, "q a b c d e f"),
      (3L, "totally novel text with no shared span anywhere"),
      (4L, "a b c")) // shorter than n: no grams, zero coverage
      .toDF("doc_id", "text")
    val got = Dedup.dupSpanStats(d, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((8L, 6L, 6L * 1000000L / 8L)))
    assert(got(2L) === ((7L, 6L, 6L * 1000000L / 7L)))
    assert(got(3L) === ((8L, 0L, 0L)))
    assert(got(4L) === ((3L, 0L, 0L)))
    // a doc repeating ITS OWN 5-gram is not cross-document duplication
    val self = Seq((1L, "u v w x y u v w x y"), (2L, "none of that here ok"))
      .toDF("doc_id", "text")
    val selfGot = Dedup.dupSpanStats(self, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(selfGot === Map(1L -> 0L, 2L -> 0L))
  }

  test("clusterStats: identical members cohere at 1.0; zero vectors drop") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(1.0f, 0.0f), 1), (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(0.0f, 0.0f), 2)) // zero-norm: excluded, label vanishes
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.clusterStats(e, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0) === ((2L, 1000000L)), "identical members: mean cos exactly 1")
    // label 1: S=(1e7,1e7); cos(v,S)=1/sqrt(2) both members
    val c = math.floor(1e6 / math.sqrt(2.0)).toLong
    assert(got(1) === ((2L, c)))
    assert(!got.contains(2), "zero-norm-only label emits no row")
  }

  test("centroidOutliers flags members pointing away from their centroid") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.1f), 0),
      (3L, Array(-1.0f, 0.0f), 0), // anti-aligned with label 0's centroid
      (4L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity
      .centroidOutliers(e, "vec_id", "embedding", "label", minCos6 = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(!got(1L)._2 && !got(2L)._2 && !got(4L)._2)
    assert(got(3L)._2 && got(3L)._1 < 0L, "anti-aligned member flags negative")
    // one cosine definition: the per-label mean equals the mean of the
    // drill-down rows (clusterStats over the same fixture)
    val mean0 = graft.operators.Similarity
      .clusterStats(e, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val drill = got.filterKeys(Set(1L, 2L, 3L)).values.map(_._1).sum
    assert(mean0(0) === math.floor(drill.toDouble / 3).toLong)
  }

  test("connected components fail loudly when the iteration bound is hit") {
    import spark.implicits._
    // a 10-node path needs ~9 propagation rounds; maxIter=2 must throw,
    // never silently return a split component (module 'no silent caps').
    // smallGraphEdges=0 forces the distributed loop — the driver
    // fast path has no iteration bound to hit
    val path = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxIter = 2, smallGraphEdges = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }
}
