package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Vector/embedding functions (SURVEY.md §2.9).
  *
  * Design note on determinism: floating-point sums are order-dependent, so a
  * naive double dot-product need not agree bit-for-bit between Spark and the
  * DuckDB oracle (or across partitionings). We therefore quantize each
  * component to an integer grid (×1e7, stored as integral doubles). Products
  * are ≤1e14 and 64-element sums stay < 2^53, so every partial sum is an
  * exactly-representable integer and the result is identical regardless of
  * evaluation order or engine. Cosine from quantized vectors is then one
  * deterministic division — bitwise reproducible everywhere.
  *
  * (Reference computes cosine via L2-normalized matmul:
  * quran_mcp/search.py:158, quran_mcp/embeddings.py:28-37.)
  */
object VecFns {
  val Scale: Double = 1e7

  /** Quantize a float vector to an integral-double grid. */
  def quantize(c: Column): Column =
    transform(c.cast("array<double>"), x => round(x * lit(Scale)))

  /** Driver twin of [[quantize]] — the same HALF_UP grid (Spark's
    * `round` is BigDecimal HALF_UP), bit-identical per element. Lets a
    * serving probe embed the QUERY's quantized vector as a LITERAL:
    * the column form `quantize(typedLit(q))` contains a higher-order
    * function, which Catalyst does not constant-fold, so every row of
    * every probe re-quantized the query (and re-derived its LSH bucket)
    * — measured as the bulk of warm ANN latency. */
  def quantizeLocal(q: Array[Float]): Array[Double] =
    q.map(x => BigDecimal(x.toDouble * Scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** Driver twin of Similarity.sq8Codes — the ONE int8-code derivation
    * every SQ8 query-side literal goes through (in-memory rung, IVF+SQ8
    * probe, persisted probe): same IEEE ops, same HALF_UP grid, so the
    * three call sites cannot round differently and the persisted probe
    * stays bit-identical to the in-memory rung. Returns None for a
    * zero-norm vector (no direction to rank — callers return EMPTY,
    * matching the oracle twins' qm > 0 filter). */
  def sq8CodesLocal(q: Array[Double]): Option[Array[Double]] = {
    val qm = q.map(math.abs).max
    if (qm == 0) None
    else Some(q.map(x => BigDecimal(x * 127.0 / qm)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  /** Exact dot product of two quantized vectors (or any arrays of
    * doubles) — a native codegen'd Expression (graft.plans.QuantizedDot);
    * strict left-to-right sum, bit-identical to [[dotHof]]. */
  def dot(a: Column, b: Column): Column = graft.plans.QuantizedDot(a, b)

  /** Builtin higher-order-function form (interpreted) — kept as the
    * reference implementation the custom expression is pinned against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two already-quantized vectors (F11). */
  def cosineQ(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  /** Cosine similarity of two raw float vectors. */
  def cosine(a: Column, b: Column): Column = cosineQ(quantize(a), quantize(b))

  /** F10: Chroma-style distance→similarity 1/(1+max(0,d))
    * (reference: mcp_server/apps/embeddings.py:302-311). */
  def distanceToSimilarity(d: Column): Column =
    lit(1.0) / (lit(1.0) + greatest(lit(0.0), d))

  /** Feature-hashing bucket for a token: (bucket, ±1 sign), md5 computed
    * ONCE per token (round-3 verdict fix — the old form recomputed md5 per
    * output slot, O(dim×tokens) md5 calls). */
  private def bucketSign(t: Column, dim: Int): (Column, Column) = {
    val h = TextFns.hash31(t)
    val bucket = h % lit(dim.toLong)
    val sign = when(floor(h / lit(dim.toLong)).cast(LongType) % lit(2L) === lit(0L),
      lit(1.0)).otherwise(lit(-1.0))
    (bucket, sign)
  }

  /** SPARSE hashed-embedding grammar — [[bucketSign]]'s halves exposed
    * for the explode → groupBy(bucket) shape: the corpus-scale path
    * when the unit count is large (chunks, shards), where the per-row
    * map-building HOF of [[hashEmbedMap]] becomes the bottleneck
    * (measured: the chunk-grain retrieval row fell 240 s → ~2 s at
    * sf0.1 moving to this shape). Same md5 grammar, same oracle. */
  def hashBucket(t: Column, dim: Int): Column = bucketSign(t, dim)._1
  def hashSign(t: Column, dim: Int): Column = bucketSign(t, dim)._2

  /** E1 offline Embedder: deterministic hashed bag-of-words embedding
    * (the classic hashing trick), built only from portable md5 so the
    * oracle can reproduce it. One pass over the tokens builds a
    * bucket→sum map; the dense vector is a map lookup per slot. */
  def hashEmbedMap(toks: Column, dim: Int): Column = {
    val entries = transform(toks, t => {
      val (b, s) = bucketSign(t, dim)
      struct(b.as("b"), s.as("s"))
    })
    aggregate(entries, typedLit(Map.empty[Long, Double]), (m, e) => {
      val b = e.getField("b")
      val s = e.getField("s")
      map_concat(
        map_filter(m, (k, _) => k =!= b),
        map_from_arrays(array(b), array(coalesce(element_at(m, b), lit(0.0)) + s)))
    })
  }

  /** Dense un-normalized hashed embedding (integer-valued doubles). */
  def hashEmbed(toks: Column, dim: Int): Column = {
    val m = hashEmbedMap(toks, dim)
    transform(sequence(lit(0), lit(dim - 1)),
      d => coalesce(element_at(m, d.cast(LongType)), lit(0.0)))
  }

  /** Scala-side twin of [[hashEmbed]] for encoding the query string on the
    * driver (reference encodes queries in-process too:
    * mcp_server/apps/embeddings.py:288-290). Bit-identical to the column
    * version; verified by HashEmbedSpec. */
  def hashEmbedLocal(toks: Seq[String], dim: Int): Array[Double] = {
    val v = new Array[Double](dim)
    toks.foreach { t =>
      val h = TextFns.hash31Local(t)
      val b = (h % dim).toInt
      val s = if ((h / dim) % 2 == 0) 1.0 else -1.0
      v(b) += s
    }
    v
  }

  def l2NormalizeLocal(v: Array[Double], roundTo: Int = 6): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0.0) v.map(x => BigDecimal(x / n).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble)
    else v
  }
}
