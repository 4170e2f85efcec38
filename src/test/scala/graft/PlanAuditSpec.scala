package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audit: the properties that make these plans survive a
  * 100× scale-up, asserted against the actual executed plans at sf0.001
  * (plans are data-size independent apart from AQE thresholds).
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q3: filters push to the scans; no forced hint — AQE picks the join") {
    val df = Queries.all("q3_top_orders")(spark, sf)
    // the real invariant: no FORCED broadcast of the SF-scaled customer
    // side (the hint would OOM the driver at cluster scale); AQE still
    // broadcasts at this size because the filtered side actually fits
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "forced broadcast hint survives on an SF-scaled side")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull"), "no pushed filters")
    assert(p.contains("BroadcastHashJoin"), "AQE stopped broadcasting the filtered dim at sf0.001")
    assert(p.contains("TakeOrderedAndProject"), "top-k not TakeOrdered")
    assert(!p.contains("CartesianProduct"))
  }

  test("q1: partial (map-side) aggregation before the shuffle") {
    val p = plan(Queries.all("q1_lineitem_agg")(spark, sf))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), "no partial agg")
    // column pruning: only the 4 needed columns reach the scan
    assert(p.contains("ReadSchema"), "no read schema")
    assert(!p.contains("l_partkey"), "scan reads unneeded columns")
  }

  test("top-k queries compile to TakeOrderedAndProject, not a global sort") {
    Seq("bm25_topk", "cosine_topk", "ann_ensemble").foreach { q =>
      val p = plan(Queries.all(q)(spark, sf))
      assert(p.contains("TakeOrderedAndProject"), s"$q lacks TakeOrdered")
    }
    // the registered ivf_topk (seed-centroid IVF) is a lazy pipeline
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.typedLit
    val e = Tables(spark, sf, "embeddings")
    val qv = e.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val p = plan(Similarity.ivfTopK(e, "vec_id", "embedding",
      typedLit(qv), nCentroids = 16, nProbe = 5, k = 20))
    assert(p.contains("TakeOrderedAndProject"), "ivf_topk lacks TakeOrdered")
    // the probe is partition pruning on the centroid literal set, never
    // a join against the centroid table
    assert(!p.contains("Join"), "ivf_topk probe plans a join")
    // the scale-aware spill IVF snapshots its ≤k rows (Dedup.scoped), so
    // its returned plan is a checkpoint scan — audit the LAZY pipeline,
    // the near-dup-paths doctrine: centroid-literal filter (partition
    // pruning), no join, top-k as TakeOrdered
    val lazySpill = Similarity.withSpillIvf(e, "vec_id", "embedding", 16,
        lloydIters = 1, materialize = false) { (_, asg, cents) =>
      Similarity.ivfProbeSpill(asg, cents, qv, nProbe = 2, k = 20)
    }
    val ps = plan(lazySpill)
    assert(ps.contains("TakeOrderedAndProject"), "ann_topk spill (lazy) lacks TakeOrdered")
    assert(!ps.contains("Join"), "ann_topk spill probe plans a join")
  }

  test("near-dup candidate paths contain no nested-loop join") {
    // materialize=false: audit the LAZY pipelines (the default eagerly
    // snapshots the pairs via localCheckpoint, whose plan is just an RDD
    // scan — asserting on that would prove nothing)
    import graft.operators.{Dedup, Similarity}
    val docs = Tables(spark, sf, "documents")
    val emb = Tables(spark, sf, "embeddings")
    val lazyPlans = Map(
      "near_dup_pairs" -> Similarity.nearDupPairs(emb, "vec_id", "embedding",
        0.3, Queries.Dim, nBits = 8, nBands = 2, materialize = false),
      "simhash_pairs" -> Dedup.simhashPairs(
        Dedup.simhash(docs, "doc_id", "text", 32), maxHamming = 3, bits = 32,
        materialize = false),
      "ngram_jaccard_pairs" -> Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        3, 0.1, materialize = false),
      // the registered form: one shared token-set frame feeds the
      // signature build and the verify
      "minhash_lsh_pairs" -> Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        numHashes = 16, rowsPerBand = 16, threshold = 0.9, materialize = false),
      "incremental_near_dup" -> {
        val existing = docs.where(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0)
        val delta = docs.where(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
        Dedup.incrementalNearDupPairs(Dedup.bandIndex(existing, "doc_id", "text"),
          existing, delta, "doc_id", "text", 0.9, materialize = false)
      })
    lazyPlans.foreach { case (q, df) =>
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("semantic dedup is an equi-join on the cluster key; lm perplexity partially aggregates") {
    import graft.operators.{Similarity, TextAnalysis}
    val pd = plan(Similarity.semanticDedupSurvivors(Tables(spark, sf, "embeddings"),
      "vec_id", "embedding", nCentroids = 16, tau = 0.3, materialize = false))
    assert(!pd.contains("CartesianProduct"), "semantic dedup plans a cartesian")
    assert(!pd.contains("BroadcastNestedLoopJoin"), "semantic dedup plans a nested loop")
    val pl = plan(TextAnalysis.lmPerplexity(Tables(spark, sf, "documents"), "doc_id", "text"))
    assert(pl.contains("partial_sum") || pl.contains("partial_count"),
      "lm perplexity lacks map-side partial aggregation")
    assert(!pl.contains("CartesianProduct"), "lm perplexity plans a cartesian")
  }

  test("interval join plans a hash equi-join on the bucket, never a nested loop") {
    val p = plan(Queries.all("events_interval_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval join fell back to the O(|P|·|I|) nested loop")
    assert(!p.contains("CartesianProduct"), "interval join plans a cartesian")
  }

  test("heavy hitters: candidate confirm broadcasts; rolling window never collapses to one partition") {
    val ph = plan(Queries.all("heavy_hitters")(spark, sf))
    // the total's 1-row crossJoin always broadcasts, so BroadcastExchange
    // alone would be vacuous: the candidate CONFIRM must be a broadcast
    // hash join and no sort-merge join may appear anywhere (a regressed
    // confirm leg is exactly the full-table shuffle this path exists to
    // avoid)
    assert(ph.contains("BroadcastHashJoin"),
      "candidate confirm is not a broadcast hash join")
    assert(!ph.contains("SortMergeJoin"),
      "confirm pass regressed to a shuffled sort-merge join")
    val pr = plan(Queries.all("events_rolling")(spark, sf))
    assert(!pr.contains("SinglePartition"),
      "rolling window degenerated to a single-partition sort")
    assert(pr.contains("partial_count") || pr.contains("HashAggregate"),
      "hourly grain lacks map-side combine")
  }

  test("salted join keys the exchange by (key, salt); group windows never collapse to one partition") {
    val ps = plan(Queries.all("salted_join")(spark, sf))
    // assert on the JOIN NODE's key list, not the whole plan string —
    // the withColumn projection mentions _salt even if the join stops
    // keying on it (the vacuous-assert class the heavy-hitters audit
    // already fixed)
    assert(ps.linesIterator.exists(l => l.contains("Join") && l.contains("_salt")),
      "join node lost the salt key — hot key would pin one task")
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"))
    Seq("session_assign", "percentile_bands", "topk_per_group", "source_cap")
      .foreach { q =>
        val p = plan(Queries.all(q)(spark, sf))
        assert(!p.contains("SinglePartition"), s"$q window collapsed to one partition")
      }
    // negative sampling: candidates meet in a bucket EQUI-join (never
    // anchors×corpus) and the per-probe min window stays (anchor, j)-keyed
    val pn = plan(Queries.all("negative_pairs")(spark, sf))
    assert(!pn.contains("CartesianProduct") && !pn.contains("BroadcastNestedLoopJoin"),
      "negative sampling degenerated to a cross join")
    assert(!pn.contains("SinglePartition"), "negative window collapsed to one partition")
    // non-vacuity first (the vacuous-assert class): a plan with NO
    // window at all must fail, not slip past the forall
    assert(pn.contains("Window"), "negative sampling lost its min-window entirely")
    assert(pn.linesIterator.filter(_.contains("Window")).forall(_.contains("anchor")),
      "negative min-window lost its anchor key")
    // percentile_global's final agg over <=|ps| hit rows is a legitimate
    // SinglePartition exchange; the data-scale WINDOW must stay keyed by
    // _pid (the two-pass prefix-count contract)
    val pg = plan(Queries.all("percentile_global")(spark, sf))
    assert(pg.linesIterator.filter(_.contains("Window")).forall(_.contains("_pid")),
      "percentile_global rank window lost its partition key — one task sorts the table")
    assert(pg.contains("Window"), "percentile_global lost its per-partition rank window")
    // tfidf's 1-row n_docs attach is a legitimate broadcast nested loop;
    // the per-source rank window must stay keyed by source
    val tf = plan(Queries.all("tfidf_top_terms")(spark, sf))
    assert(tf.linesIterator.filter(_.contains("Window")).forall(_.contains("source")),
      "tfidf rank window lost its source key — one task sorts the vocabulary")
  }

  test("scd2 merge is ONE keyed join + one explode, never a join per branch") {
    val p = plan(Queries.all("scd2_merge")(spark, sf))
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin"))
    assert(joins === 1, s"expected exactly one keyed join, saw $joins")
    assert(p.contains("Generate"), "lost the single-pass explode emit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("rollup report is ONE Expand pass, not G separate scans") {
    val p = plan(Queries.all("rollup_counts")(spark, sf))
    assert(p.contains("Expand"), "rollup lost its Expand — grains re-scan the table")
    assert(p.split("Scan parquet|FileScan|Scan ExistingRDD").length - 1 <= 1,
      "rollup scans the table more than once")
  }

  test("dup spans: gram set met in a semi-join; cohesion reuses the checkpointed sums") {
    val p = plan(Queries.all("dup_span_stats")(spark, sf))
    assert(p.contains("LeftSemi"), "dup-gram membership lost its semi-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // both centroid-grid reports ride the checkpointed sum table: one
    // Generate = only the join-side posexplode (two corpus passes)
    Seq("cluster_stats", "embedding_outliers").foreach { q =>
      val pc = plan(Queries.all(q)(spark, sf))
      assert(pc.linesIterator.count(_.trim.startsWith("Generate")) <= 1,
        s"$q re-explodes the corpus beyond the two-pass contract")
      assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("q18 is a TakeOrdered over keyed joins; FK audit never goes cartesian") {
    val p = plan(Queries.all("q18_big_orders")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), "top-100 regressed to a global sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // supplier/part joins: no FORCED hint (both dims are SF-scaled —
    // TPC-H 10k·SF / 200k·SF); AQE still broadcasts the pruned 2-column
    // dims at this size, and the fact never shuffles for the joins
    val sbv = Queries.all("supplier_brand_volume")(spark, sf)
    assert(!sbv.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "forced broadcast hint survives on an SF-scaled dim")
    val ps2 = plan(sbv)
    assert(ps2.contains("BroadcastHashJoin"), "AQE stopped broadcasting the pruned dims at sf0.001")
    assert(!ps2.contains("CartesianProduct"))
    val pf = plan(Queries.all("fk_orphans")(spark, sf))
    assert(!pf.contains("CartesianProduct") && !pf.contains("BroadcastNestedLoopJoin"))
    // falsifiable form — `|| contains(HashAggregate)` can never fail
    // (the vacuous-assert class)
    val pm = plan(Queries.all("hourly_merge")(spark, sf))
    assert(pm.contains("partial_sum"), "merge lost its map-side combine")
  }

  test("clip attaches its 1-row bounds by broadcast; confusion joins keyed, no cartesian") {
    val p = plan(Queries.all("clip_outliers")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "percentile bounds stopped broadcasting")
    assert(!p.contains("CartesianProduct"))
    val pl = plan(Queries.all("lang_confusion")(spark, sf))
    assert(pl.linesIterator.exists(l => l.contains("Join") && l.contains("doc_id")),
      "confusion join lost its doc key")
    assert(!pl.contains("CartesianProduct") && !pl.contains("BroadcastNestedLoopJoin"))
  }

  test("histogram: broadcast bounds attach, bucket-keyed aggregate") {
    val p = plan(Queries.all("hist_chars")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "1-row bounds frame stopped broadcasting")
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("keys=[bucket")),
      "final aggregate no longer keyed by bucket")
    // composition keeps both contracts: the sessionize window stays
    // user-keyed (the bounds attach is the histogram's own 1-row agg)
    val ps = plan(Queries.all("session_length_hist")(spark, sf))
    assert(ps.linesIterator.filter(_.contains("Window")).forall(_.contains("user_id")),
      "session window lost its user key")
    // curriculum: the shuffle window stays stratum-keyed
    val pcu = plan(Queries.all("curriculum_order")(spark, sf))
    assert(pcu.linesIterator.filter(_.contains("Window")).forall(_.contains("stratum")),
      "curriculum window lost its stratum key")
    // KL: counts localCheckpoint — the final plan reads the snapshot,
    // never a second corpus scan
    // NOT `... || contains(ExistingRDD)`: the checkpoint guarantees an
    // ExistingRDD scan, which would make the assert vacuous (the class
    // the salted-join audit fix established)
    val pk = plan(Queries.all("source_kl")(spark, sf))
    assert(!pk.contains("Scan parquet"),
      "source_kl re-scans the corpus past the checkpointed count table")
    assert(!pk.contains("CartesianProduct"))
  }

  test("pmi: no cartesian; pair counts reused for the total, not re-exploded") {
    val p = plan(Queries.all("pmi_bigrams")(spark, sf))
    assert(!p.contains("CartesianProduct"), "dictionary join went cartesian")
    // the (a,b) count exchange feeds both the minCount filter and the
    // n_big total — a second Generate-over-corpus means the explode ran twice
    val generates = p.linesIterator.count(_.trim.startsWith("Generate"))
    assert(generates <= 2, // one pair explode + one unigram explode
      s"pair explode runs more than once: $generates Generate nodes\n$p")
  }

  test("bloom seen-filter: only the candidate leg joins; no cartesian anywhere") {
    val p = plan(Queries.all("bloom_seen_filter")(spark, sf))
    assert(p.contains("Union"), "missing the definite-keep ∪ confirmed split")
    assert(p.contains("LeftAnti"), "exact confirm leg lost its anti-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("lexical probes broadcast the query-term side") {
    val p = plan(Queries.all("bm25_topk")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "query terms not broadcast")
  }

  test("whole-stage codegen covers the relational pipelines") {
    // (higher-order-function projections — filter/transform lambdas — are
    // interpreted by design in Spark; the relational queries must codegen)
    Seq("q1_lineitem_agg", "events_hourly", "q5_region_revenue").foreach { q =>
      val df = Queries.all(q)(spark, sf)
      df.collect() // AQE materializes codegen stages only in the final plan
      val p = df.queryExecution.executedPlan.toString
      // codegen stages print as "*(n)" in the simple plan string
      assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
        s"$q has no codegen span")
    }
  }

  test("boilerplate ngram mining partially aggregates before its one shuffle") {
    // the df count MUST map-side combine: at 100 TB the exploded distinct
    // shingles are corpus-scale, and a shuffle of raw (doc, gram) rows
    // instead of per-partition partial counts would move the whole
    // explosion across the wire
    val p = plan(Queries.all("boilerplate_ngrams")(spark, sf))
    assert(p.contains("partial_count") || p.contains("HashAggregate"), "no partial agg")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("boilerplate strip rewrites docs in one narrow pass over a 1-row broadcast") {
    val p = plan(Queries.all("strip_boilerplate")(spark, sf))
    // the mined set attaches as a broadcast nested-loop over ONE row;
    // a hash/sort-merge join here would mean the doc rewrite keyed a
    // shuffle on the data-scale side
    assert(p.contains("BroadcastNestedLoopJoin"), "mined set not broadcast-attached")
    assert(!p.contains("SortMergeJoin"), "doc rewrite shuffled")
    // exchanges: the MINING aggregate rounds, the 1-row set collapse,
    // the final orderBy, and ONE round-robin spread of (id, text) for
    // rewrite parallelism (a single-file scan arrives as one partition)
    // — no KEYED shuffle on the rewrite side
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 6, s"unexpected exchange count $exchanges in:\n${p.take(1500)}")
    assert(!p.contains("hashpartitioning(doc_id") || p.contains("RoundRobin"),
      "rewrite side gained a keyed shuffle")
  }

  test("boilerplate strip JOIN path: no forced broadcast on the mined side") {
    // above denseSetMax the mined set is unbounded — a forced broadcast
    // hint there OOMs the driver exactly when the branch triggers at
    // scale. The hint must be absent (AQE picks broadcast at runtime
    // only when the checkpointed side actually fits); membership stays
    // an equi-join on the gram key, never a nested loop.
    val df = graft.operators.TextAnalysis.stripBoilerplate(
      Tables(spark, sf, "documents"), "doc_id", "text", 3, 5, denseSetMax = 0)
    assert(!df.queryExecution.optimizedPlan.toString.contains("ResolvedHint"),
      "forced broadcast hint survived on the join path")
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "mined-set membership degenerated to a nested loop")
  }

  test("as-of join is union+window: no join operator, one keyed shuffle") {
    val p = plan(Queries.all("events_asof_attrib")(spark, sf))
    // the point of the formulation: NO range join materializing
    // O(|L|·|R|) per key — no join node of any kind in the plan
    assert(!p.contains("Join"), s"as-of compiled to a join:\n${p.take(800)}")
    assert(p.contains("Window"), "no window operator")
    // exchanges: ONE hashpartitioning(user_id) for the window + the
    // final orderBy range partitioning — nothing else
    val keyed = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(keyed === 1, s"expected exactly one keyed shuffle, plan:\n${p.take(1200)}")
  }

  test("bucketed as-of: data-scale windows keyed by (key, bucket), never key alone") {
    val p = plan(Queries.all("events_asof_bucketed")(spark, sf))
    // the stage-1 fold must partition by (user_id, _b): a plain
    // (user_id) window on the union frame would be the hot-key pin the
    // bucketed form exists to remove. The only (user_id)-alone
    // partitioning allowed is stage 2's closings fold (≤ one row per
    // (key, bucket), timeline-bounded, not data-scale).
    assert(p.contains("hashpartitioning(user_id"), "no keyed shuffle at all")
    assert("partitionBy=\\[user_id#\\d+L, _b#\\d+L\\]".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\(user_id#\\d+L, _b#\\d+L".r.findFirstIn(p).isDefined,
      s"stage-1 window not keyed by (user_id, _b):\n${p.take(1200)}")
  }

  test("source quality rollup is one narrow pass + one combinable agg: no join") {
    val p = plan(Queries.all("source_quality_rollup")(spark, sf))
    assert(!p.contains("Join"), "stats and cascade legs joined — should be one projection")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), "no partial agg")
    // one shuffle on source + the final sort
    val keyed = "hashpartitioning\\(source".r.findAllIn(p).size
    assert(keyed === 1, s"expected one keyed shuffle on source, plan:\n${p.take(1200)}")
  }

  test("temperature mix: rate table broadcasts, corpus side stays unshuffled") {
    val p = plan(Queries.all("mix_temperature")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "rate table not broadcast")
    // the corpus side must NOT hash-shuffle on source for the join —
    // only the tiny counts aggregate may
    assert(!p.contains("SortMergeJoin"), "corpus shuffled into a sort-merge join")
  }

  test("strip_repeats: all shuffles are doc-keyed, no corpus-global structure") {
    val p = plan(Queries.all("strip_repeats")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), "unexpected global attach")
    assert(!p.contains("CartesianProduct"), "cartesian in strip plan")
    // every keyed exchange carries doc_id (the (doc,gram) agg, the
    // per-doc covered agg, the join back); nothing keys on gram alone
    val keyedNonDoc = "hashpartitioning\\((?!doc_id)".r.findAllIn(p).size
    assert(keyedNonDoc === 0, s"non-doc-keyed shuffle:\n${p.take(1200)}")
  }

  test("anomaly scoring reuses the hourly partitioning for the moment window") {
    val p = plan(Queries.all("events_anomaly")(spark, sf))
    assert(!p.contains("Join"), "moments joined back instead of windowed")
    // grouping shuffle on (hour, type) + window shuffle on (type) + sort;
    // no further exchanges
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"unexpected exchange count $exchanges:\n${p.take(1200)}")
  }

  test("incremental anti-join resolves to a real anti join") {
    val p = plan(Queries.all("incremental_changed")(spark, sf))
    assert(p.contains("LeftAnti"), "no anti join in the plan")
  }

  test("warm search plans read cached index layers, broadcast probes, take-order") {
    val eng = Graft.openHadith(spark, "/root/reference/data/riyadussalihin/book_1.jsonl")
    val df = eng.search("Hadith narrated by Abu Hurairah", n = 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "warm search does not read cached layers")
    assert(p.contains("TakeOrderedAndProject"), "warm top-k not TakeOrdered")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "warm probe side not broadcast")
    // the single-row corpus-stats crossJoin legitimately renders as a
    // broadcast NLJ (constants fan-out); a cartesian shuffle never may
    assert(!p.contains("CartesianProduct"))
  }

  test("persisted field postings partition-prune field-scoped probes (S9)") {
    val dir = java.nio.file.Files.createTempDirectory("plan-postings").toString
    GraftIndexes.writeHadith(spark,
      "/root/reference/data/riyadussalihin/book_1.jsonl", dir)
    val pruned = spark.read.parquet(s"$dir/postings")
      .where(col("field") === "narrator")
    val p = plan(pruned)
    assert("""PartitionFilters: \[[^\]]*field[^\]]* = narrator""".r.findFirstIn(p).isDefined,
      p.take(400))
  }

  test("persisted term-bucketed postings run dictionary expansion without an exchange (S9)") {
    val dir = java.nio.file.Files.createTempDirectory("plan-bucketed").toString
    val p = graft.operators.Postings.build(Tables(spark, sf, "documents"), "doc_id", "text")
    graft.operators.Postings.saveBucketed(p, "plan_bucketed_postings", 8, Some(s"$dir/post"))
    // simulate a fresh session: the catalog registration is gone, only the
    // directory remains; openBucketed must restore the bucket spec
    spark.sql("DROP TABLE plan_bucketed_postings")
    val opened = graft.operators.Postings.openBucketed(
      spark, "plan_bucketed_postings", s"$dir/post", 8)
    val dict = graft.operators.Postings.dictionary(opened)
    val pl = plan(dict)
    assert(!pl.contains("Exchange"), s"dictionary over bucketed layout shuffles:\n${pl.take(600)}")
  }

  test("openBucketed falls back to a plain read on a pre-bucketing layout (S9)") {
    val dir = java.nio.file.Files.createTempDirectory("plan-legacy").toString
    val p = graft.operators.Postings.build(Tables(spark, sf, "documents"), "doc_id", "text")
    // legacy writer: plain parquet, no bucket ids in the file names
    p.write.mode("overwrite").parquet(s"$dir/post")
    val opened = graft.operators.Postings.openBucketed(
      spark, "plan_legacy_postings", s"$dir/post", 8)
    // must NOT have registered a bucketed table over non-bucketed files
    // (reading one through a bucket spec dies with "Invalid bucket file")
    assert(!spark.catalog.tableExists("plan_legacy_postings"))
    assert(opened.count() === p.count())
  }

  test("silver book layout makes a book filter partition pruning (S3/P3)") {
    val dir = java.nio.file.Files.createTempDirectory("plan-silver").toString
    val valid = graft.operators.Ingest.validated(graft.operators.Ingest
      .readBooks(spark, "/root/reference/data/riyadussalihin/book_1.jsonl"))
    graft.operators.Ingest.writeSilver(valid, dir)
    val pruned = spark.read.parquet(dir).where(col("book_id") === "1")
    val p = plan(pruned)
    // the EQUALITY must prune (isnotnull alone would not keep a book
    // filter from touching other books' files)
    assert("""PartitionFilters: \[[^\]]*book_id[^\]]* = 1""".r.findFirstIn(p).isDefined,
      p.take(400))
  }

  test("multimodal enrich is a narrow scan: no exchange, no join") {
    val media = graft.operators.Multimodal.syntheticMedia(
      Tables(spark, sf, "documents"), "doc_id", "text")
    val p = plan(graft.operators.Multimodal.enrich(media, bins = 16, frames = 4))
    assert(!p.contains("Exchange"), "enrich shuffles")
    assert(!p.contains("Join"), "enrich joins")
    assert(p.contains("byte_histogram"), "native histogram not in plan")
  }

  test("quality-filter cascade is a narrow scan: no exchange, no join") {
    val p = plan(graft.operators.TextAnalysis.qualityFilter(
      Tables(spark, sf, "documents"), "doc_id", "text"))
    assert(!p.contains("Exchange"), "quality filter shuffles")
    assert(!p.contains("Join"), "quality filter joins")
  }

  test("shard packing never plans a single-partition global window") {
    val p = plan(graft.operators.Shards.packShards(
      Tables(spark, sf, "documents"), "doc_id", "text", tokensPerShard = 500L))
    assert(!p.contains("SinglePartition"), "global window collapsed to one partition")
  }

  test("budget select never plans a single-partition global window") {
    val docs = Tables(spark, sf, "documents")
    val st = graft.operators.TextAnalysis.qualityStats(docs, "doc_id", "text")
      .withColumn("q", graft.operators.TextAnalysis.qScore6(
        col("stop_ratio"), col("ttr"), col("mean_tok_len")))
    val p = plan(graft.operators.Shards.budgetSelect(st, "doc_id", "q",
      "n_tokens", budget = 5000L))
    assert(!p.contains("SinglePartition"), "global cumsum collapsed to one partition")
  }

  test("shuffle order never plans a single-partition global window") {
    val p = plan(graft.operators.Shards.shuffleOrder(
      Tables(spark, sf, "documents"), "doc_id", "ep0"))
    assert(!p.contains("SinglePartition"), "global row_number collapsed to one partition")
  }

  test("quality percentile window partitions by the stratum, never a global sort") {
    val p = plan(graft.operators.TextAnalysis.qualityPercentile(
      Tables(spark, sf, "documents"), "doc_id", "text", "lang", minRank = 0.9))
    assert(!p.contains("SinglePartition"), "stratum window collapsed to one partition")
    assert(p.contains("hashpartitioning(lang"), "window not partitioned by the stratum key")
  }

  test("bucketed knn join is an equi-join on the LSH key — no cross join, no probe broadcast requirement") {
    val emb = Tables(spark, sf, "embeddings")
    val df = graft.operators.Similarity.knnJoinBucketed(emb, emb, "vec_id", "embedding",
      k = 5, dim = Queries.Dim, nBits = 4, nBands = 2, materialize = false)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "bucketed knn has a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "bucketed knn has a nested loop")
  }

  test("multi-probe ANN prunes a persisted ANN layout to exactly the probe set (E3)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-ann").toString
    val emb = Tables(spark, sf, "embeddings")
    GraftIndexes.writeAnn(spark, emb, "vec_id", "embedding", s"$dir/ann",
      Queries.Dim, nBits = 4)
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val buckets = Similarity.probeBuckets(q, Queries.Dim, nBits = 4, hamming = 1).distinct
    // only buckets that exist as partition dirs can be read (writeAnn
    // writes no dir for an empty bucket)
    val existing = buckets.count(b =>
      new java.io.File(s"$dir/ann/bucket=$b").isDirectory)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off so the executed plan is structurally walkable (the scan
      // node's metrics carry the pruned partition count)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val idx = spark.read.parquet(s"$dir/ann") // NOT cached: audit the pruning path
      val df = Similarity.annTopKMultiProbe(idx, q, Queries.Dim, nBits = 4,
        k = 10, hamming = 1)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert("""PartitionFilters: \[[^\]]*bucket[^\]]* IN""".r.findFirstIn(p).isDefined,
        s"probe is not a partition filter:\n${p.take(500)}")
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no file scan in the probe plan")
      val read = scans.head.metrics("numPartitions").value
      assert(read === existing.toLong,
        s"probe read $read partitions; expected $existing (of ${buckets.size} probed buckets)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("spill-IVF probe prunes a persisted writeIvf layout to exactly the probe set (E3)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-ivf").toString
    val emb = Tables(spark, sf, "embeddings")
    GraftIndexes.writeIvf(spark, emb, "vec_id", "embedding", s"$dir/ivf",
      nCentroids = 16, lloydIters = 1)
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (asg, cents) = GraftIndexes.openIvf(spark, s"$dir/ivf")
      val probeSet = Similarity.spillProbeSet(cents, q, nProbe = 3)
      val existing = probeSet.count(c =>
        new java.io.File(s"$dir/ivf/assign/centroid=$c").isDirectory)
      val df = Similarity.ivfProbeSpill(asg, cents, q, nProbe = 3, k = 10)
      // the reopened probe is bit-identical to the in-memory one
      // (centroids round-trip bitwise through the parquet sidecar)
      val (memAsg, memCents) = Similarity.ivfIndexSpill(emb, "vec_id", "embedding",
        nCentroids = 16, lloydIters = 1)
      assert(cents.map(_.toSeq).toSeq === memCents.map(_.toSeq).toSeq,
        "persisted centroids drifted from the in-memory training")
      assert(df.collect().toSeq ===
        Similarity.ivfProbeSpill(memAsg, memCents, q, nProbe = 3, k = 10).collect().toSeq)
      val p = df.queryExecution.executedPlan.toString
      assert("""PartitionFilters: \[[^\]]*centroid[^\]]* IN""".r.findFirstIn(p).isDefined,
        s"probe is not a partition filter:\n${p.take(500)}")
      // r15: spill dedupe is the row-local primary-centroid predicate,
      // so a single-query probe is scan → filter → TakeOrdered with
      // ZERO exchanges (the old dropDuplicates shuffle was ~130 ms of
      // warm probe latency)
      assert(!p.contains("Exchange"), s"single-query probe shuffles:\n${p.take(600)}")
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no file scan in the probe plan")
      assert(scans.head.metrics("numPartitions").value === existing.toLong,
        s"probe read ${scans.head.metrics("numPartitions").value} partitions; expected $existing")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("batched ivfProbeSpillJoin over a persisted layout: DPP partition filter, broadcast equi-join, no nested loop") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-ivf-join").toString
    val emb = Tables(spark, sf, "embeddings")
    GraftIndexes.writeIvf(spark, emb, "vec_id", "embedding", s"$dir/ivf",
      nCentroids = 16, lloydIters = 1)
    val (asg, cents) = GraftIndexes.openIvf(spark, s"$dir/ivf")
    val df = Similarity.ivfProbeSpillJoin(asg, cents,
      emb.where(col("vec_id") < 5), "vec_id", "embedding", nProbe = 2, k = 5)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "batched probe plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "batched probe plans a nested loop")
    assert(p.contains("BroadcastHashJoin"),
      "the probe schedule is not broadcast — the corpus side would shuffle")
    // the broadcast probe schedule turns the partitioned-layout scan
    // into DYNAMIC partition pruning: only the union of probed
    // centroid directories is read
    assert("""PartitionFilters: \[[^\]]*dynamicpruning""".r.findFirstIn(p).isDefined,
      s"no dynamic partition pruning on the centroid layout:\n${p.take(600)}")
    // top-k per probe rides the WindowGroupLimit pushdown, not a full
    // per-probe sort of every candidate
    assert(p.contains("WindowGroupLimit"), "per-probe top-k lost the group-limit pushdown")
    // spill dedupe is the broadcast marker join (r15), so the per-probe
    // window's hashpartitioning is the plan's ONLY real exchange — the
    // r14 cut paid an extra (probe_id, vec_id) aggregate shuffle here
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"batched probe shuffles more than the window:\n${p.take(800)}")
    assert(df.count() === 25L)
  }

  test("persisted IVF x SQ8 layout: code rank reads codes not vectors, rerank pushes vec_id IN, results match the in-memory probe (E3)") {
    import graft.operators.Similarity
    import graft.functions.VecFns
    val dir = java.nio.file.Files.createTempDirectory("plan-ivfsq8").toString
    val emb = Tables(spark, sf, "embeddings")
    GraftIndexes.writeIvfSq8(spark, emb, "vec_id", "embedding", s"$dir/ivf",
      nCentroids = 16, lloydIters = 1)
    val (asg, cents) = GraftIndexes.openIvf(spark, s"$dir/ivf")
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    // phase 1 (code rank): partition pruning on the probed centroids,
    // COLUMN pruning to (vec_id, c8) — the 8-byte qv never enters the
    // scan; this is the default rung's byte claim made physical
    val probeSet = Similarity.spillProbeSet(cents, q, nProbe = 3)
    val q8 = VecFns.sq8CodesLocal(VecFns.quantizeLocal(q)).get
    val p1 = GraftIndexes.sq8CodeRankFrame(asg, probeSet, q8, 80)
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*centroid[^\]]* IN""".r.findFirstIn(p1).isDefined,
      "code rank is not partition pruning on the probe set")
    assert("""ReadSchema: [^\n]*c8""".r.findFirstIn(p1).isDefined,
      "code rank does not read the code column")
    assert(!"""ReadSchema: [^\n]*qv""".r.findFirstIn(p1).isDefined,
      s"code rank reads the full vectors — the narrow-scan claim is broken:\n${p1.take(500)}")
    // phase 2 (exact rerank): the bounded id set arrives as a LITERAL
    // isin, so parquet row-group stats can skip qv pages
    val df = GraftIndexes.ivfSq8ProbeSplit(asg, cents, q, nProbe = 3, k = 10)
    val p2 = df.queryExecution.executedPlan.toString
    assert("""PushedFilters: \[[^\]]*In\(vec_id""".r.findFirstIn(p2).isDefined,
      s"rerank does not push the candidate-id filter to parquet:\n${p2.take(500)}")
    // the split probe is bit-identical to the in-memory composed rung
    val (memAsg, memCents) = Similarity.ivfIndexSpill(emb, "vec_id", "embedding",
      nCentroids = 16, lloydIters = 1)
    val mem = Similarity.ivfSq8Probe(memAsg, memCents, q, nProbe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === mem,
      "persisted split probe diverged from the in-memory composed rung")
    // the warm serving form (one plan over the opened c8 layout) ranks
    // on the STORED codes and is also bit-identical — byte→double cast
    // of integral codes is exact
    val coded = Similarity.ivfSq8Probe(asg, cents, q, nProbe = 3, k = 10)
    val codedProbe = coded.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert("""ReadSchema: [^\n]*c8""".r.findFirstIn(plan(coded)).isDefined,
      s"probe over the coded layout does not read the stored codes:\n${plan(coded).take(500)}")
    assert(codedProbe === mem,
      "coded warm probe diverged from the in-memory composed rung")
    // the batched join's stored-codes branch (rank on persisted c8)
    // equals the recompute-from-qv branch: one probe row ⇒ the batched
    // result is the single-query composed probe
    val joined = Similarity.ivfSq8ProbeJoin(asg, cents,
      emb.where(col("vec_id") === 0), "vec_id", "embedding", nProbe = 3, k = 10)
      .collect().sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(joined === mem,
      "batched stored-codes probe diverged from the composed rung")
  }

  test("batched split probe (r16): code-rank job reads codes not vectors, rerank pushes literals, rows equal the one-plan join") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-ivfsq8-join-split").toString
    val emb = Tables(spark, sf, "embeddings")
    GraftIndexes.writeIvfSq8(spark, emb, "vec_id", "embedding", s"$dir/ivf",
      nCentroids = 16, lloydIters = 1)
    val (asg, cents) = GraftIndexes.openIvf(spark, s"$dir/ivf")
    val probes = emb.where(col("vec_id") < 5)
    // phase 1 (the batched code-rank JOB): broadcast schedule join with
    // dynamic partition pruning, column pruning to (vec_id, c8,
    // primary) — the 8-byte qv never enters the scan. This is how a
    // batched retrieval job inherits the single-query split probe's
    // byte envelope (r15 verdict #1).
    val schedule = Similarity.sq8ScheduleFrame(probes, "vec_id", "embedding",
      cents, 3)
    val p1 = GraftIndexes.sq8CodeRankJoinFrame(asg, schedule, 40)
      .queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin"),
      "batched code rank does not broadcast the schedule")
    assert("""PartitionFilters: \[[^\]]*dynamicpruning""".r.findFirstIn(p1).isDefined,
      s"batched code rank is not dynamically partition-pruned:\n${p1.take(500)}")
    assert("""ReadSchema: [^\n]*c8""".r.findFirstIn(p1).isDefined,
      "batched code rank does not read the code column")
    assert(!"""ReadSchema: [^\n]*qv""".r.findFirstIn(p1).isDefined,
      s"batched code rank reads the full vectors — byte claim broken:\n${p1.take(500)}")
    // phase 2: the bounded winner ids arrive as a pushed literal
    val split = GraftIndexes.ivfSq8ProbeJoinSplit(asg, cents, probes,
      "vec_id", "embedding", nProbe = 3, k = 10)
    val p2 = split.queryExecution.executedPlan.toString
    assert("""PushedFilters: \[[^\]]*In\(vec_id""".r.findFirstIn(p2).isDefined,
      s"split rerank does not push the winner-id filter to parquet:\n${p2.take(500)}")
    // row identity with the one-plan batched join — the split form is a
    // physical re-shape, not a semantic variant
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq
    val joined = Similarity.ivfSq8ProbeJoin(asg, cents, probes,
      "vec_id", "embedding", nProbe = 3, k = 10)
    assert(rows(split) === rows(joined),
      "byte-narrow split probe diverged from the one-plan batched join")
  }

  test("appendIvf is genuinely incremental: only the delta's partitions gain files, no retrain") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-ivf-append").toString
    val emb = Tables(spark, sf, "embeddings")
    val base = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val delta = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    GraftIndexes.writeIvf(spark, base, "vec_id", "embedding", s"$dir/ivf",
      nCentroids = 16, lloydIters = 1)
    val centsBefore = GraftIndexes.openIvf(spark, s"$dir/ivf")._2
    def filesPerPartition: Map[Int, Set[String]] =
      Option(new java.io.File(s"$dir/ivf/assign").listFiles).getOrElse(Array())
        .filter(f => f.isDirectory && f.getName.startsWith("centroid="))
        .map(d => d.getName.stripPrefix("centroid=").toInt ->
          d.listFiles.map(_.getName).toSet).toMap
    val before = filesPerPartition
    GraftIndexes.appendIvf(spark, delta, "vec_id", "embedding", s"$dir/ivf")
    val after = filesPerPartition
    // append-only: every pre-existing file is still there, untouched
    before.foreach { case (c, fs) =>
      assert(fs.subsetOf(after(c)), s"partition $c lost files in the append")
    }
    // and SOME partition gained files (the delta landed somewhere)
    assert(after.exists { case (c, fs) => fs.size > before.getOrElse(c, Set()).size },
      "append wrote nothing")
    val (asg, cents) = GraftIndexes.openIvf(spark, s"$dir/ivf")
    // centroids untouched — append must never retrain
    assert(cents.map(_.toSeq).toSeq === centsBefore.map(_.toSeq).toSeq)
    // lifecycle invariance: the appended layout's assignment equals a
    // one-shot assignment of the FULL corpus to the same centroids
    val oneShot = Similarity.ivfAssignSpill(emb, "vec_id", "embedding", cents)
      .select("vec_id", "centroid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val persisted = asg.select("vec_id", "centroid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(persisted === oneShot, "append drifted from one-shot assignment")
  }

  test("appendIvfSq8: composed-layout append probes identically to a one-shot build on the same centroids") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-ivfsq8-append").toString
    val emb = Tables(spark, sf, "embeddings")
    val base = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val delta = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    GraftIndexes.writeIvfSq8(spark, base, "vec_id", "embedding", s"$dir/ivf",
      nCentroids = 16, lloydIters = 1)
    val centsBefore = GraftIndexes.openIvf(spark, s"$dir/ivf")._2
    // the one append reads `c8` off the layout and codes the delta with
    // ivfSq8Rows (appendIvfSq8 forwards here)
    GraftIndexes.appendIvf(spark, delta, "vec_id", "embedding", s"$dir/ivf")
    val (asg, cents) = GraftIndexes.openIvf(spark, s"$dir/ivf")
    // no retrain on append
    assert(cents.map(_.toSeq).toSeq === centsBefore.map(_.toSeq).toSeq)
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    // the appended layout's split probe equals the in-memory composed
    // probe over a one-shot corpus-wide assignment to the SAME centroids
    val got = GraftIndexes.ivfSq8ProbeSplit(asg, cents, q, nProbe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val memAsg = Similarity.ivfAssignSpill(emb, "vec_id", "embedding", cents)
    val want = Similarity.ivfSq8Probe(memAsg, cents, q, nProbe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want, "appended composed layout diverged from one-shot probe")
  }

  test("appends are idempotent (r16): a retried append is a no-op — double-append layouts and probes equal single-append") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-append-idem").toString
    val emb = Tables(spark, sf, "embeddings")
    val base = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val delta = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    // composed layout: run the SAME append twice; the second must be a
    // no-op (the anti-join drops every existing (vec_id, centroid)
    // pair) — pre-r16 the duplicate rows would survive the row-local
    // spill dedupe and occupy probe top-k slots twice
    GraftIndexes.writeIvfSq8(spark, base, "vec_id", "embedding", s"$dir/ivf",
      nCentroids = 16, lloydIters = 1)
    GraftIndexes.appendIvf(spark, delta, "vec_id", "embedding", s"$dir/ivf")
    val (asg1, cents) = GraftIndexes.openIvf(spark, s"$dir/ivf")
    val rowsOnce = asg1.count()
    val probeOnce = GraftIndexes.ivfSq8ProbeSplit(asg1, cents, q, nProbe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    GraftIndexes.appendIvf(spark, delta, "vec_id", "embedding", s"$dir/ivf")
    val (asg2, _) = GraftIndexes.openIvf(spark, s"$dir/ivf")
    assert(asg2.count() === rowsOnce, "retried composed-layout appendIvf duplicated rows")
    val probeTwice = GraftIndexes.ivfSq8ProbeSplit(asg2, cents, q, nProbe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeTwice === probeOnce, "double-append changed probe results")
    // and the batched coded probe sees no duplicate vec_ids either
    val batched = Similarity.ivfSq8ProbeJoin(asg2, cents,
        emb.where(col("vec_id") < 3), "vec_id", "embedding", nProbe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(batched.distinct.length === batched.length,
      "batched probe returned duplicate (probe, vec) pairs after double-append")
    // code layer: same rule on vec_id
    GraftIndexes.writeSq8(spark, base, "vec_id", "embedding", s"$dir/sq8")
    GraftIndexes.appendSq8(spark, delta, "vec_id", "embedding", s"$dir/sq8")
    val codesOnce = GraftIndexes.openSq8(spark, s"$dir/sq8").count()
    GraftIndexes.appendSq8(spark, delta, "vec_id", "embedding", s"$dir/sq8")
    assert(GraftIndexes.openSq8(spark, s"$dir/sq8").count() === codesOnce,
      "retried appendSq8 duplicated code rows")
  }

  test("appendSq8: stateless code layer appends to the same rows a full rebuild gives") {
    val dir = java.nio.file.Files.createTempDirectory("plan-sq8-append").toString
    val emb = Tables(spark, sf, "embeddings")
    GraftIndexes.writeSq8(spark, emb.where(pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", s"$dir/inc")
    GraftIndexes.appendSq8(spark, emb.where(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", s"$dir/inc")
    GraftIndexes.writeSq8(spark, emb, "vec_id", "embedding", s"$dir/full")
    def rows(d: String) = GraftIndexes.openSq8(spark, d)
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toSet
    assert(rows(s"$dir/inc") === rows(s"$dir/full"),
      "incremental code layer drifted from the full rebuild")
  }

  test("persisted PQ layer (r16): m-byte codes on disk, probe bit-identical to the in-memory rung, idempotent append") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-pq").toString
    val emb = Tables(spark, sf, "embeddings")
    GraftIndexes.writePq(spark, emb, "vec_id", "embedding", s"$dir/pq",
      dim = Queries.Dim)
    val (codes, books) = GraftIndexes.openPq(spark, s"$dir/pq")
    // the byte claim is physical: codes are TINYINT arrays of m=8
    // elements — narrower than even the SQ8 layer's dim bytes
    val elem = codes.schema("pcode").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(elem === org.apache.spark.sql.types.ByteType,
      s"persisted PQ codes are $elem, not ByteType")
    assert(codes.select(size(col("pcode"))).head().getInt(0) === 8,
      "PQ code is not m=8 bytes")
    // reopened probe == in-memory rung, row for row (books round-trip
    // bitwise: integral doubles)
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val persisted = GraftIndexes.pqProbe(codes, emb, "vec_id", "embedding",
        books, q, k = 20, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Similarity.pqTopK(emb, "vec_id", "embedding", q, k = 20,
        dim = Queries.Dim, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(persisted === mem, "persisted PQ probe diverged from the in-memory rung")
    // incremental append face: encode-only against the read-back books
    // (no retrain), idempotent on retry, codes identical to a one-shot
    // encode — the contract every other index layer meets
    val dir3 = java.nio.file.Files.createTempDirectory("plan-pq-idem").toString
    val base = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val delta = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    GraftIndexes.writePq(spark, base, "vec_id", "embedding", s"$dir3/pq",
      dim = Queries.Dim)
    val booksBefore = GraftIndexes.openPq(spark, s"$dir3/pq")._2
    GraftIndexes.appendPq(spark, delta, "vec_id", "embedding", s"$dir3/pq")
    val once = GraftIndexes.openPq(spark, s"$dir3/pq")._1.count()
    GraftIndexes.appendPq(spark, delta, "vec_id", "embedding", s"$dir3/pq")
    val (codes3, booksAfter) = GraftIndexes.openPq(spark, s"$dir3/pq")
    assert(codes3.count() === once, "retried appendPq duplicated code rows")
    assert(booksAfter.map(_.map(_.toSeq).toSeq).toSeq ===
      booksBefore.map(_.map(_.toSeq).toSeq).toSeq, "appendPq retrained books")
    // append encodes through the ONE pqCodeExpr projection: the
    // appended rows' codes equal a one-shot encode to the same books
    val oneShot = delta.select(col("vec_id").cast("long").as("vec_id"),
        Similarity.pqCodeExpr(graft.functions.VecFns.quantize(col("embedding")),
          booksBefore, Queries.Dim / booksBefore.length).as("pcode"))
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toSet
    val appended = codes3.join(delta.select(col("vec_id").cast("long").as("vec_id")),
        Seq("vec_id"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getSeq[Byte](1))).toSet
    assert(appended === oneShot, "appended PQ codes drifted from one-shot encode")
  }

  test("persisted residual layer (r17): rPQ codes on disk, probe bit-identical to the in-memory rung, idempotent append") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-rpq").toString
    val emb = Tables(spark, sf, "embeddings")
    val nLists = Similarity.nListsFor(emb.count())
    val nProbe = Similarity.nProbeWideFor(nLists)
    GraftIndexes.writeRpq(spark, emb, "vec_id", "embedding", s"$dir/rpq",
      dim = Queries.Dim, nCentroids = nLists)
    val (asg, cents, books) = GraftIndexes.openRpq(spark, s"$dir/rpq")
    // the byte claim is physical: residual codes are m=8 TINYINTs
    val elem = asg.schema("pcode").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(elem === org.apache.spark.sql.types.ByteType,
      s"persisted rPQ codes are $elem, not ByteType")
    assert(asg.select(size(col("pcode"))).head().getInt(0) === 8,
      "rPQ code is not m=8 bytes")
    // reopened probe == in-memory cold rung, row for row (centroids and
    // books are integral doubles — bitwise parquet round-trip; the cold
    // form retrains from the same deterministic seeds)
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val persisted = Similarity.rpqProbeLayout(asg, cents, books, q,
        nProbe, k = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Similarity.withSpillIvf(emb, "vec_id", "embedding", nLists) {
        (_, a, c) => Similarity.ivfRpqProbe(a, c,
          Similarity.rpqTrain(a, c, Queries.Dim), q, nProbe, k = 20)
      }.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(persisted === mem,
      "persisted residual probe diverged from the in-memory rung")
    // append face: assign + encode only against the read-back sidecars
    // (no retrain of either layer), idempotent on retry
    val dir2 = java.nio.file.Files.createTempDirectory("plan-rpq-idem").toString
    val base = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val delta = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    GraftIndexes.writeRpq(spark, base, "vec_id", "embedding", s"$dir2/rpq",
      dim = Queries.Dim)
    val booksBefore = GraftIndexes.openRpq(spark, s"$dir2/rpq")._3
    GraftIndexes.appendIvf(spark, delta, "vec_id", "embedding", s"$dir2/rpq")
    val once = GraftIndexes.openRpq(spark, s"$dir2/rpq")._1.count()
    GraftIndexes.appendIvf(spark, delta, "vec_id", "embedding", s"$dir2/rpq")
    val (asg2, cents2, booksAfter) = GraftIndexes.openRpq(spark, s"$dir2/rpq")
    assert(asg2.count() === once, "retried residual-layout appendIvf duplicated rows")
    assert(booksAfter.map(_.map(_.toSeq).toSeq).toSeq ===
      booksBefore.map(_.map(_.toSeq).toSeq).toSeq, "appendIvf retrained books")
    // appended rows code through the ONE rpqRows projection: equal to a
    // one-shot encode of the delta against the same sidecars
    val oneShot = Similarity.rpqRows(
        Similarity.ivfAssignSpill(delta, "vec_id", "embedding", cents2),
        cents2, booksAfter)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("centroid"),
        r.getSeq[Byte](2))).toSet
    val appended = asg2.join(delta.select(col("vec_id").cast("long").as("vec_id")),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("centroid"), col("pcode"))
      .collect().map(r => (r.getLong(0), r.getAs[Int]("centroid"),
        r.getSeq[Byte](2))).toSet
    assert(appended === oneShot, "appended rPQ codes drifted from one-shot encode")
  }

  test("persisted SQ8 layer: byte codes on disk, probe bit-identical to the in-memory rung (E3)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("plan-sq8").toString
    val emb = Tables(spark, sf, "embeddings")
    GraftIndexes.writeSq8(spark, emb, "vec_id", "embedding", s"$dir/sq8")
    val codes = GraftIndexes.openSq8(spark, s"$dir/sq8")
    // the bandwidth claim is physical: codes are TINYINT on disk
    val elem = codes.schema("c8").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(elem === org.apache.spark.sql.types.ByteType,
      s"persisted codes are $elem, not ByteType")
    def bytesUnder(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        else f.length
      walk(new java.io.File(p))
    }
    val codeBytes = bytesUnder(s"$dir/sq8")
    val vecBytes = bytesUnder(s"$sf/embeddings.parquet")
    assert(codeBytes * 2 < vecBytes,
      s"code layer ($codeBytes B) is not meaningfully narrower than the vectors ($vecBytes B)")
    // reopened probe == in-memory rung, row for row
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val persisted = GraftIndexes.sq8Probe(codes, emb, "vec_id", "embedding", q, k = 20)
    val mem = Similarity.sq8TopK(emb, "vec_id", "embedding", q, k = 20)
    assert(persisted.collect().toSeq === mem.collect().toSeq,
      "persisted SQ8 probe diverged from the in-memory rung")
  }

  test("warm serve plans: width-1 exchanges only, bounded count (no re-planning regressions)") {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      val hadith = Graft.openHadith(spark,
        "/root/reference/data/riyadussalihin/book_1.jsonl")
      val quran = Graft.openQuran(spark, Queries.QuranDir, Some(Queries.NpzPath))
      val qv = quran.emb.get.where(col("verse_key") === "1:1")
        .head().getSeq[Float](1).toArray
      GraftSession.tuneForServing(spark)
      // STRUCTURAL count: InMemoryTableScanExec is a leaf of the plan
      // tree, so collect() does not descend into the cached layers'
      // one-time build plans (the string form prints them — counting
      // lines would bill the whole index build to every warm query)
      def shuffleWidths(df: DataFrame): Seq[Int] = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            s.outputPartitioning.numPartitions
        }
      }
      // (bounds = measured serve-plan shapes + headroom of 1; a regression
      // that reintroduces per-stage re-planning or wide exchanges fails
      // loudly, not silently in the next round's bench)
      val cases: Seq[(String, DataFrame, Int)] = Seq(
        ("hadith_warm", hadith.search("Hadith narrated by Abu Hurairah", 10), 8),
        ("quran_hybrid_warm", quran.search(Queries.QuranQuery, 5, "hybrid", Some(qv)), 8),
        ("quran_get_verse_warm", quran.getVerse("2:255"), 2))
      cases.foreach { case (name, df, maxShuffles) =>
        val widths = shuffleWidths(df)
        assert(widths.length <= maxShuffles,
          s"$name plans ${widths.length} shuffle exchanges (max $maxShuffles)")
        assert(widths.forall(_ == 1),
          s"$name has wide serving exchanges: widths=$widths")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q21/q22: exists decorrelates to semi/anti EQUI-joins — never a nested loop") {
    // the whole point of using NOT EXISTS over NOT IN: the null-aware
    // anti-join form is broadcast-only in Spark (falls back to
    // BroadcastNestedLoopJoin when the subquery side outgrows the
    // driver); the decorrelated equi anti-join shuffles on its key and
    // survives any scale
    val p21 = plan(Queries.all("q21_waiting_supplier")(spark, sf))
    assert(p21.contains("LeftSemi"), "EXISTS lost its semi-join")
    assert(p21.contains("LeftAnti"), "NOT EXISTS lost its anti-join")
    assert(!p21.contains("BroadcastNestedLoopJoin") && !p21.contains("CartesianProduct"),
      "q21 subquery degenerated to a nested loop")
    assert(p21.contains("TakeOrderedAndProject"), "q21 top-100 regressed to a global sort")
    val p22 = plan(Queries.all("q22_idle_customers")(spark, sf))
    assert(p22.contains("LeftAnti"), "NOT EXISTS lost its anti-join")
    assert(!p22.contains("BroadcastNestedLoopJoin") && !p22.contains("CartesianProduct"),
      "q22 anti side degenerated to a nested loop")
    // correlated scalar: ONE max-aggregate + a custkey equi-join — the
    // decorrelated linear shape, never a per-row re-execution
    val pc = plan(Queries.all("q_top_order_per_cust")(spark, sf))
    assert(pc.contains("HashAggregate") || pc.contains("SortAggregate"),
      "correlated max did not decorrelate to an aggregate")
    assert(pc.linesIterator.exists(l => l.contains("Join") && l.contains("o_custkey")),
      "decorrelated join lost its correlation key")
    assert(!pc.contains("BroadcastNestedLoopJoin") && !pc.contains("CartesianProduct"),
      "correlated scalar degenerated to a nested loop")
  }

  test("registry-wide: every forced-broadcast hint sits on a bounded-by-construction side") {
    // The doctrine (round 10, extended registry-wide in round 12): a
    // broadcast() hint is legitimate ONLY when the hinted side is bounded
    // by construction — a fixed-cardinality dim (region/nation), a
    // driver-made relation (collected ≤k rows, literal weights), a
    // cardinality-collapsing subtree (Aggregate/Limit), or a point lookup
    // on a key column. An SF-scaled side under a forced hint OOMs the
    // driver exactly at the scale this library targets (the class of bug
    // q3_top_orders and supplier_brand_volume carried through r11).
    // The hadith map is excluded: those engines read the fixed reference
    // corpus and their warm plans are audited by the serve-plan tests.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val boundedTables = Set("region", "nation") // fixed rows at every SF
    // CONTRACT-bounded hint BUDGET: the operator's scaladoc bounds the
    // hinted side, and the fixture query feeds it an SF slice only
    // because the synthetic testdata has no separate bounded table.
    // These queries are still audited — each may carry AT MOST this many
    // structurally-unbounded hints, so a SECOND unbounded hint added to
    // one of them still fails.
    val contractBudget = Map(
      // bench side is fixed benchmark suites by contract
      // (TextAnalysis.contaminationPairs scaladoc)
      "contamination_pairs" -> 1,
      // small-probe regime by contract — the large-probe scale path is
      // the registered knn_join_bucketed
      "knn_join" -> 1)
    // constructors that RUN a full execution just to build their frame
    // (a real streaming run whose returned plan is a sink read-back scan
    // that can never carry a hint) — excluded for suite wall-time, with
    // the same rationale as the hadith map
    val planlessConstructors =
      Set("stream_dedup_keys", "stream_asof_enrich", "stream_hourly_merge",
        "stream_scd2_merge", "stream_near_dup_ingest")
    def stripCast(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => stripCast(c); case x => x
    }
    // a POINT lookup on a key column bounds the side to ~1 row
    def keyEq(e: Expression): Boolean = e.exists {
      case EqualTo(l, r) => Seq(stripCast(l), stripCast(r)).exists {
        case a: AttributeReference => a.name.endsWith("_id") || a.name.endsWith("_key")
        case _ => false
      } && Seq(l, r).exists(_.foldable)
      case _ => false
    }
    // an Aggregate collapses cardinality ONLY when it is not keyed by a
    // data-scale key: a 1-row (ungrouped) aggregate or a grouping whose
    // keys carry no *_id/*_key column. (broadcast(fact.groupBy(key))
    // has SF-scaled groups — exactly the driver-OOM class this audit
    // exists to forbid.)
    def collapsingAgg(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.isEmpty ||
        !a.groupingExpressions.exists(_.exists {
          case ar: AttributeReference =>
            ar.name.endsWith("_id") || ar.name.endsWith("_key")
          case _ => false
        })
      case _ => false
    }
    val offenders = Queries.base.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => planlessConstructors.contains(name) }
      .flatMap { case (name, q) =>
      val analyzed = q(spark, sf).queryExecution.analyzed
      val unbounded = analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.isDefined => h.child
      }.flatMap { sub =>
        val fileLeaves = sub.collectLeaves().flatMap {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(p =>
              p.getName.replaceAll("\\.(parquet|jsonl|json)$", ""))
            case _ => Nil
          }
          case _ => Nil // local/driver-made relations are bounded
        }
        val bounded = fileLeaves.isEmpty ||
          fileLeaves.forall(boundedTables.contains) ||
          sub.exists(collapsingAgg) ||
          sub.exists(p => p.isInstanceOf[GlobalLimit] || p.isInstanceOf[LocalLimit]) ||
          sub.exists { case Filter(c, _) => keyEq(c); case _ => false }
        if (bounded) Nil else Seq(fileLeaves.distinct.mkString(","))
      }
      if (unbounded.size > contractBudget.getOrElse(name, 0))
        Seq(s"$name: ${unbounded.size} forced broadcast(s) over " +
          s"[${unbounded.mkString("; ")}] (budget ${contractBudget.getOrElse(name, 0)})")
      else Nil
    }
    assert(offenders.isEmpty,
      s"forced broadcasts on unbounded sides:\n${offenders.mkString("\n")}")
  }

  test("capped LSH candidate plans keep the hot-bucket guard as a broadcast anti-join") {
    val docs = spark.range(100).selectExpr("id as doc_id", "concat('text ', id % 7) as text")
    val sigs = graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text", 16)
    val p = plan(graft.operators.Dedup.lshCandidatePairs(sigs, 4, maxBucket = 10,
      materialize = false))
    assert(p.contains("LeftAnti"), "no anti-join guard in capped plan")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }
}
