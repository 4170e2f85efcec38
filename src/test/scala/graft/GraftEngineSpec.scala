package graft

import graft.operators.Ingest
import org.apache.spark.sql.functions._

/** Serving facade + partition-pruned silver layout. */
class GraftEngineSpec extends SparkSpec {

  test("hadith engine opens once and serves search/status/peek") {
    val eng = Graft.openHadith(spark, "/root/reference/data/riyadussalihin/book_1.jsonl")
    val st = eng.status.head()
    assert(st.getLong(0) === 47)
    assert(eng.peek(2).count() === 2)
    assert(eng.search("modesty and shyness", n = 3).count() <= 3)
  }

  test("quran engine serves point lookup, status and similar-verses") {
    val eng = Graft.openQuran(spark, "/root/reference/data/quran",
      Some("/root/reference/data/indexes/quran/embeddings.npz"))
    assert(eng.status.head().getLong(0) === 6236)
    assert(eng.getVerse("1:1").count() === 1)
    // lookup parity with the distributed filter over the same corpus
    assert(eng.getVerse("2:255").collect().toSeq ===
      eng.corpus.where(col("verse_key") === "2:255").collect().toSeq)
    assert(eng.getVerse("0:0").count() === 0) // absent key → empty, not error
    val sim = eng.similarVerses("1:1", n = 3).collect()
    assert(sim.nonEmpty)
    assert(sim.head.getAs[String]("verse_key") === "1:1") // self is nearest
  }

  test("warm spec-mode citation lookup: resident equals distributed, zero jobs") {
    val eng = Graft.openHadith(spark, "/root/reference/data/riyadussalihin/book_1.jsonl")
    val q = "Riyad as-Salihin 680"
    val resident = eng.search(q, 10, "spec").collect().toSeq
    val distributed = graft.operators.HadithSearch
      .searchWith(eng.index, q, 10, "spec").collect().toSeq
    assert(resident.nonEmpty)
    assert(resident === distributed)
    // absent citation → empty result, not an error
    assert(eng.search("Riyad as-Salihin 99999", 10, "spec").count() === 0)
    val tally = graft.obs.SparkTally.attach(spark.sparkContext)
    try {
      assert(eng.search(q, 10, "spec").collect().nonEmpty)
      val jobs = tally.totals().jobs
      assert(jobs === 0, s"warm citation lookup launched $jobs Spark jobs")
    } finally tally.detach()
  }

  test("warm get_verse launches ZERO Spark jobs (driver-resident lookup)") {
    val eng = Graft.openQuran(spark, "/root/reference/data/quran", None)
    eng.getVerse("1:1").collect() // builds the resident cache (one bounded collect)
    val tally = graft.obs.SparkTally.attach(spark.sparkContext)
    try {
      val rows = eng.getVerse("2:255").collect()
      assert(rows.length === 1)
      val jobs = tally.totals().jobs
      assert(jobs === 0, s"warm lookup launched $jobs Spark jobs")
    } finally tally.detach()
  }

  test("over-bound corpora are NEVER collected: engines fall back to distributed lookups") {
    // threshold 0 simulates a corpus-scale table behind the same engine
    // class: the resident caches must not build, and every lookup must
    // serve through the distributed twins with identical results
    val glob = "/root/reference/data/riyadussalihin/book_1.jsonl"
    val resident = Graft.openHadith(spark, glob)
    val bounded = new Graft.HadithEngine(resident.index, maxResidentRows = 0)
    val q = "Riyad as-Salihin 680"
    val tally = graft.obs.SparkTally.attach(spark.sparkContext)
    try {
      assert(bounded.search(q, 10, "spec").collect().toSeq ===
        resident.search(q, 10, "spec").collect().toSeq)
      // the distributed path RUNS Spark jobs — proof the resident
      // cache was bypassed (its twin test above asserts zero jobs)
      assert(tally.totals().jobs > 0, "over-bound spec lookup did not go distributed")
    } finally tally.detach()

    val residentQ = Graft.openQuran(spark, "/root/reference/data/quran", None)
    val boundedQ = new Graft.QuranEngine(residentQ.index, maxResidentRows = 0)
    assert(boundedQ.getVerse("2:255").collect().toSeq ===
      residentQ.getVerse("2:255").collect().toSeq)
    assert(boundedQ.getVerse("0:0").count() === 0)
  }

  test("typed point lookups: parity with DataFrame twins, zero jobs resident, fallback over-bound") {
    val eng = Graft.openHadith(spark, "/root/reference/data/riyadussalihin/book_1.jsonl")
    val q = "Riyad as-Salihin 680"
    val df = eng.search(q, 10, "spec").collect().toSeq
    val typed = eng.lookupCitation(q, 10)
    assert(typed.nonEmpty)
    assert(typed.map(_.docId) === df.map(_.getAs[String]("doc_id")))
    assert(typed.map(_.narrator) === df.map(_.getAs[String]("narrator")))
    assert(typed.map(_.snippet) === df.map(_.getAs[String]("snippet")))
    assert(eng.lookupCitation("no citation here") === Nil)
    // resident typed path: NO Spark jobs
    val tally = graft.obs.SparkTally.attach(spark.sparkContext)
    try {
      assert(eng.lookupCitation(q, 10).nonEmpty)
      val qe = Graft.openQuran(spark, "/root/reference/data/quran", None)
      qe.getVerseTyped("1:1") // builds the resident cache (bounded collects run jobs)
      val mark = tally.totals().jobs
      val hits = qe.getVerseTyped("2:255")
      assert(hits.length === 1)
      assert(hits.head.surah === 2 && hits.head.ayah === 255)
      assert(hits === hits.sortBy(_.resourceId))
      assert(qe.getVerseTyped("0:0") === Nil)
      // parity with the DataFrame twin (set-wise; typed orders by resourceId)
      val dfRows = qe.getVerse("2:255").collect().toSeq
      assert(hits.map(_.textPlain).toSet ===
        dfRows.map(_.getAs[String]("text_plain")).toSet)
      val resident = tally.totals().jobs - mark
      assert(resident === 0, s"typed lookups launched $resident Spark jobs")
      // over-bound: the typed accessors fall back to the distributed
      // twins with identical values (and DO run jobs)
      val bounded = new Graft.HadithEngine(eng.index, maxResidentRows = 0)
      assert(bounded.lookupCitation(q, 10) === typed)
      val boundedQ = new Graft.QuranEngine(qe.index, maxResidentRows = 0)
      assert(boundedQ.getVerseTyped("2:255") === hits)
      assert(tally.totals().jobs - mark > 0, "over-bound typed lookups did not go distributed")
    } finally tally.detach()
  }

  test("resident index layers take data-matched widths, not the session's (serve width)") {
    import graft.operators.Postings
    // the formula: domain-bounded corpora → 1-2 partitions; never wider
    // than the session; never asks to repartition up
    assert(Postings.serveWidth(47, 32) === 1)
    assert(Postings.serveWidth(6236, 32) === 2)
    assert(Postings.serveWidth(1L << 20, 32) === 32)
    assert(Postings.serveWidth(0, 32) === 1)
    // per-query probe stages schedule one task per cached partition, so
    // the layers a query scans must come out at the DATA's width even
    // when the session builds wide (the persisted-layout shape)
    val quran = Graft.openQuran(spark, Queries.QuranDir, Some(Queries.NpzPath))
    val sess = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val w = Postings.serveWidth(6236, sess)
    assert(quran.index.docs.rdd.getNumPartitions <= w)
    assert(quran.index.postings.rdd.getNumPartitions === w)
    quran.index.embQ.foreach(e => assert(e.rdd.getNumPartitions <= w))
    val hadith = Graft.openHadith(spark,
      "/root/reference/data/riyadussalihin/book_1.jsonl")
    assert(hadith.index.docs.rdd.getNumPartitions === 1)
    assert(hadith.index.post.rdd.getNumPartitions === 1)
    assert(hadith.index.slots.rdd.getNumPartitions === 1)
  }

  test("over-bound vocabulary keeps lexical probes on the distributed dictionary join") {
    import graft.operators.{HadithSearch, Quran}
    val glob = "/root/reference/data/riyadussalihin/book_1.jsonl"
    val idx = Graft.openHadith(spark, glob).index
    val gated = idx.copy(maxResidentVocab = 0)
    assert(gated.dictLocal("en").isEmpty, "vocab bound not enforced")
    val q = "patience and gratitude in hardship"
    assert(HadithSearch.searchWith(gated, q, n = 5).collect().toSeq ===
      HadithSearch.searchWith(idx, q, n = 5).collect().toSeq)

    val qidx = Graft.openQuran(spark, "/root/reference/data/quran", None).index
    val qgated = qidx.copy(maxResidentVocab = 0)
    assert(qgated.dictLocal.isEmpty, "quran vocab bound not enforced")
    assert(Quran.searchWith(qgated, "mercy forgiveness charity", None, 5, "fts").collect().toSeq ===
      Quran.searchWith(qidx, "mercy forgiveness charity", None, 5, "fts").collect().toSeq)
  }

  test("quran resident searchWith equals the distributed (cold) form") {
    import graft.operators.Quran
    import graft.sources.Npz
    // resident: materialized index (driver dictionary + embQ fast paths);
    // cold: the same layers, un-materialized (resident=false ⇒ the
    // distributed dictionary join). Mirrors HadithSpec's probe parity pin
    // — guards the fts leg's fabricated verse_key against drift.
    val corpus = Quran.load(spark, "/root/reference/data/quran")
    val emb = Npz.embeddings(spark, "/root/reference/data/indexes/quran/embeddings.npz").cache()
    val cold = Quran.buildIndex(corpus, Some(emb))
    val warm = cold.materialize()
    val qv = emb.where(col("verse_key") === "1:1").head().getSeq[Float](1).toArray
    for (mode <- Seq("fts", "hybrid", "semantic")) {
      assert(Quran.searchWith(warm, "mercy forgiveness charity", Some(qv), 5, mode).collect().toSeq ===
        Quran.searchWith(cold, "mercy forgiveness charity", Some(qv), 5, mode).collect().toSeq,
        s"resident/distributed divergence in mode=$mode")
    }
  }

  test("persisted index layers round-trip: warm open serves identical results (S9)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    val glob = "/root/reference/data/riyadussalihin/book_{1,2}.jsonl"
    val cold = Graft.openHadith(spark, glob)
    GraftIndexes.writeHadith(spark, glob, s"$dir/hadith")
    val warm = GraftIndexes.openHadith(spark, s"$dir/hadith")
    val q = "Hadith narrated by Abu Hurairah"
    assert(warm.search(q, n = 5).collect().toSeq === cold.search(q, n = 5).collect().toSeq)
    // repeated warm queries are deterministic over the resident index
    assert(warm.search(q, n = 5).collect().toSeq === warm.search(q, n = 5).collect().toSeq)

    GraftIndexes.writeQuran(spark, "/root/reference/data/quran", s"$dir/quran",
      Some("/root/reference/data/indexes/quran/embeddings.npz"))
    val wq = GraftIndexes.openQuran(spark, s"$dir/quran")
    val cq = Graft.openQuran(spark, "/root/reference/data/quran",
      Some("/root/reference/data/indexes/quran/embeddings.npz"))
    assert(wq.search("mercy forgiveness charity", 5, "fts").collect().toSeq ===
      cq.search("mercy forgiveness charity", 5, "fts").collect().toSeq)
    // hybrid mode too: covers the persisted-embeddings/embQ leg
    val qv = cq.emb.get.where(col("verse_key") === "1:1").head().getSeq[Float](1).toArray
    assert(wq.search("mercy forgiveness charity", 5, "hybrid", Some(qv)).collect().toSeq ===
      cq.search("mercy forgiveness charity", 5, "hybrid", Some(qv)).collect().toSeq)
    assert(wq.getVerse("2:255").select("verse_key", "slug").count() === 1)
    // the TYPED path off the persisted layout: the resident layers
    // collect from parquet-backed caches — answers must be identical
    assert(warm.searchTyped(q, 5) === cold.searchTyped(q, 5))
    assert(warm.ftsMatchTyped(Seq("en" -> "charity"), 5) ===
      cold.ftsMatchTyped(Seq("en" -> "charity"), 5))
    assert(wq.searchTyped("mercy forgiveness charity", 5, "hybrid", Some(qv)) ===
      cq.searchTyped("mercy forgiveness charity", 5, "hybrid", Some(qv)))
  }

  test("persisted ANN index: warm probe equals cold, bucket probe partition-prunes") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    GraftIndexes.writeAnn(spark, e, "vec_id", "embedding", s"$dir/ann", 64, 4)
    // pruning check BEFORE openAnn caches the path (cache substitution
    // would replace the FileScan and hide the partition filters)
    val pruned = spark.read.parquet(s"$dir/ann").where(col("bucket") === 5)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(bucket"))
    val idx = GraftIndexes.openAnn(spark, s"$dir/ann")
    val qv = typedLit(e.where(col("vec_id") === 0).head().getSeq[Float](1).toArray)
    assert(Similarity.annTopKWith(idx, qv, 64, 4, 10).collect().toSeq ===
      Similarity.annTopK(e, "vec_id", "embedding", qv, 64, 4, 10).collect().toSeq)
  }

  test("generic hybrid warm searchWith equals cold search") {
    import graft.operators.Hybrid
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = Hybrid.buildIndex(docs, "doc_id", "text").materialize()
    val q = Queries.HybridQuery
    assert(Hybrid.searchWith(idx, q, n = 10).collect().toSeq ===
      Hybrid.search(docs, "doc_id", "text", q, n = 10).collect().toSeq)
  }

  test("silver layout partition-prunes book filters (S3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-silver").toString
    val valid = Ingest.validated(Ingest.readBooks(spark,
      "/root/reference/data/riyadussalihin/book_{1,2}.jsonl"))
    Ingest.writeSilver(valid, dir)
    val pruned = spark.read.parquet(dir).where(col("book_id") === "1")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(book_id"), plan.take(400))
    assert(pruned.count() === 47)
  }
}
