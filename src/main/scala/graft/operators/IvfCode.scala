package graft.operators

import graft.functions.VecFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** How a spill-IVF index codes its rows (the `column` a coded frame
  * carries), and so how [[Similarity.ivfProbe]] ranks candidates before
  * the exact rerank: FAISS's IVF, IVF+SQ8, IVFPQ and IVFADC. Each code
  * owns its ONE row projection ([[rows]] — layout writes, appends and a
  * probe over an uncoded frame all code through it, so they cannot
  * drift), its approx score and its rerank width.
  *
  * `lists` maps each list the rows sit in to its centroid; only the
  * residual code reads it. A probe passes just its nProbe lists, so the
  * plan carries an nProbe·dim literal, never the K·dim one (whose
  * codegen dominated the probe wall at small fixtures). */
sealed abstract class IvfCode(private[graft] val column: String) {

  /** This code's rows of a (vec_id, qv, …) frame. */
  private[graft] def rows(df: DataFrame, lists: IvfCode.Lists = Map.empty): DataFrame

  /** Top k of coded candidates by exact cosine to `q`: (vec_id, cos). */
  private[graft] def topK(coded: DataFrame, q: Array[Float], k: Int,
                          lists: IvfCode.Lists = Map.empty): DataFrame
}

object IvfCode {
  type Books = Array[Array[Array[Double]]]
  type Lists = Map[Int, Array[Double]]

  /** The centroids of lists `ids`. */
  def lists(cents: Array[Array[Double]], ids: Seq[Int]): Lists =
    ids.map(l => l -> cents(l)).toMap

  /** Uncoded rows: candidates rank on their full quantized vectors. */
  case object Raw extends IvfCode("qv") {
    private[graft] def rows(df: DataFrame, lists: Lists): DataFrame = df
    private[graft] def topK(coded: DataFrame, q: Array[Float], k: Int,
                            lists: Lists): DataFrame =
      coded.transform(Similarity.exactTopK(typedLit(VecFns.quantizeLocal(q).toSeq), k))
  }

  /** A code that keeps the top k·`rerank` candidates by its round-6
    * `approx` score (vec_id tie-break) for the exact rerank. A zero
    * query gets the empty answer ([[Similarity.directedTopK]]). */
  sealed abstract class Approx(column: String, val rerank: Int) extends IvfCode(column) {

    /** Coded candidates with `approx`; rows with no direction drop. */
    private[graft] def scored(coded: DataFrame, qq: Array[Double], lists: Lists): DataFrame

    /** The ids of the top `cut` candidates by approx score. */
    private[graft] def rankIds(coded: DataFrame, qq: Array[Double], cut: Int,
                               lists: Lists = Map.empty): DataFrame =
      Similarity.approxCut(scored(coded, qq, lists), cut).select("vec_id")

    private[graft] def topK(coded: DataFrame, q: Array[Float], k: Int,
                            lists: Lists): DataFrame =
      Similarity.directedTopK(coded, q) { qq =>
        val top = Similarity.approxCut(scored(coded, qq, lists), k * rerank)
        // a score frame that keeps its vectors reranks in place; one
        // that keeps only ids joins its winners back
        if (top.columns.contains("qv")) top.transform(Similarity.exactTopK(typedLit(qq.toSeq), k))
        else Similarity.rerankIds(coded, top.select("vec_id"), qq, k)
      }
  }

  /** Int8 codes ([[Similarity.sq8Codes]]), one byte per dimension.
    * Zero-norm vectors drop at coding time. */
  case object Sq8 extends Approx("c8", 4) {

    /** `df` with its `qv` coded into bytes `c8`: codes are integral, so
      * stored and fresh codes rank identically. */
    private[graft] def coded(df: DataFrame): DataFrame =
      Similarity.sq8Coded(df, "qv", "c8")
        .withColumn("c8", transform(col("c8"), x => x.cast("byte")))

    private[graft] def rows(df: DataFrame, lists: Lists): DataFrame =
      coded(df).select("vec_id", "qv", "c8", "primary", "centroid")

    /** Round-6 cosine of `c8` against query codes `q8` (a literal, or
      * the batched probes' per-row column). */
    private[graft] def approx(q8: Column): Column =
      round(VecFns.cosineQ(col("c8").cast("array<double>"), q8), 6).as("approx")

    /** Candidates carry their vectors: no join back before the rerank. */
    private[graft] def scored(coded: DataFrame, qq: Array[Double], lists: Lists): DataFrame =
      coded.select(col("vec_id"), col("qv"),
        approx(typedLit(VecFns.sq8CodesLocal(qq).get))) // nonzero: directedTopK guards
  }

  /** Product-quantization codes (`pcode`, m bytes per vector) against
    * corpus-global books ([[Similarity.pqTrain]]). */
  final case class Pq(books: Books) extends Approx("pcode", 8) {
    private[graft] def rows(df: DataFrame, lists: Lists): DataFrame =
      df.withColumn("pcode", pqCode(col("qv"), books))

    private[graft] def scored(coded: DataFrame, qq: Array[Double], lists: Lists): DataFrame = {
      val (num, den2) = adcTerms(books, qq)
      adcScored(coded.withColumn("num", num).withColumn("den2", den2), qq)
    }
  }

  /** Residual PQ codes (`pcode`): each row coded against ITS list's
    * centroid, books trained on residuals ([[Similarity.rpqTrain]]). ADC
    * reconstructs a candidate in list L as cent_L + concat_j(book_j[code_j]),
    * so the approx cosine adds per-list scalars (q·cent_L, |cent_L|²) and
    * a per-(list, subspace, code) CROSS LUT (cent_L⁽ʲ⁾·book entries, one
    * map literal over the probed lists) to the flat ADC terms. Every
    * term is an exact-integer product summed in the oracle's order, so
    * round-6 ranks are engine-independent. */
  final case class Rpq(books: Books) extends Approx("pcode", 8) {
    private[graft] def rows(df: DataFrame, lists: Lists): DataFrame =
      Similarity.residualFrame(df, lists)
        .withColumn("pcode", pqCode(col("rqv"), books))
        .select("vec_id", "qv", "pcode", "primary", "centroid")

    private[graft] def scored(coded: DataFrame, qq: Array[Double], lists: Lists): DataFrame = {
      require(lists.nonEmpty, "residual codes score against their lists' centroids")
      val dsub = books.head.head.length
      val crossLut: Map[Int, Seq[Seq[Double]]] = lists.map { case (l, c) =>
        l -> books.zipWithIndex.map { case (cb, j) =>
          val cs = c.slice(j * dsub, (j + 1) * dsub)
          cb.map(cv => Similarity.dotLocal(cs, cv)).toSeq
        }.toSeq
      }
      val qdotc = lists.map { case (l, c) => l -> Similarity.dotLocal(qq, c) }
      val cn2 = lists.map { case (l, c) => l -> Similarity.dotLocal(c, c) }
      val crossCol = books.indices.map { j =>
        element_at(element_at(element_at(typedLit(crossLut), col("centroid")),
          j + 1), col("pcode")(j).cast("int") + 1)
      }.reduce(_ + _)
      val (num, den2) = adcTerms(books, qq)
      adcScored(coded
        .withColumn("num", element_at(typedLit(qdotc), col("centroid")) + num)
        .withColumn("den2", element_at(typedLit(cn2), col("centroid")) +
          lit(2.0) * crossCol + den2), qq)
    }
  }

  /** Per-row PQ code array of `v`: element j = nearest sub-centroid of
    * subspace j — m bytes per vector, the PQ rungs' scan column. */
  private def pqCode(v: Column, books: Books): Column = {
    val dsub = books.head.head.length
    array(books.zipWithIndex.map { case (cb, j) =>
      Similarity.bestSubCode(Similarity.subSlice(v, j, dsub), cb).cast("byte")
    }: _*)
  }

  /** The flat ADC (numerator, norm²) columns over `pcode`: Σⱼ of the
    * per-subspace query×book dot LUT and book norm² LUT, literals indexed
    * by the code byte — exact-integer sums (≤ m·8e14 < 2⁵³) that read
    * ONLY the m-byte code column. */
  private def adcTerms(books: Books, qq: Array[Double]): (Column, Column) = {
    val dsub = books.head.head.length
    def lutSum(luts: Array[Seq[Double]]): Column =
      luts.zipWithIndex.map { case (l, j) =>
        element_at(typedLit(l), col("pcode")(j).cast("int") + 1)
      }.reduce(_ + _)
    (lutSum(books.zipWithIndex.map { case (cb, j) =>
      val qs = qq.slice(j * dsub, (j + 1) * dsub)
      cb.map(cv => Similarity.dotLocal(qs, cv)).toSeq
    }), lutSum(books.map(_.map(cv => Similarity.dotLocal(cv, cv)).toSeq)))
  }

  /** Approx cosine of a frame carrying ADC `num`/`den2`; zero-norm
    * reconstructions drop (the oracle's den2 > 0 filter). */
  private def adcScored(withTerms: DataFrame, qq: Array[Double]): DataFrame =
    withTerms.where(col("den2") > 0)
      .select(col("vec_id"), round(col("num") /
        (lit(math.sqrt(Similarity.dotLocal(qq, qq))) * sqrt(col("den2"))), 6).as("approx"))
}
