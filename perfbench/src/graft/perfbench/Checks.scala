package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** The output checks, as pure functions so the self-test can feed each
  * one a deliberately wrong result. */
object Checks {
  private val mapper = new ObjectMapper()

  def hitIds(body: String): Seq[String] = {
    val hits = mapper.readTree(body).get("hits")
    if (hits == null) Nil else (0 until hits.size).map(i => hits.get(i).path("doc_id").asText(null))
  }

  /** One served request: (correct, sourced-recall outcome). The status
    * must be the one expected for the query class and an exact reference
    * must return its generated doc first; a sourced query scores 1 when
    * its source doc is among the hits (-1 when not sourced). */
  def serveOutcome(q: Gen.Query, status: Int, body: String): (Boolean, Int) = {
    if (status != q.status) return (false, -1)
    if (status != 200) return (true, -1)
    val ids = hitIds(body)
    val ok = q.expectDoc == null || ids.headOption.contains(q.expectDoc)
    (ok, if (q.sourceDoc == null) -1 else if (ids.contains(q.sourceDoc)) 1 else 0)
  }

  /** Typed envelope hits vs `HadithEngine.search` rows: same doc ids in
    * the same order, scores equal to 4 decimals. */
  def sameHits(envelope: Seq[(String, Double)], search: Seq[(String, Double)]): Boolean =
    envelope.map(_._1) == search.map(_._1) &&
      envelope.zip(search).forall { case (a, b) => math.abs(a._2 - b._2) < 1e-4 }

  /** Full-corpus dedup: every input doc is either a survivor or removed. */
  def survivorsAddUp(input: Long, survivors: Long, removed: Long): Boolean =
    input == survivors + removed

  /** No exact duplicate (always a larger id than its original) survives. */
  def exactDupsRemoved(survivorIds: Set[Long], exactDups: Seq[Long]): Boolean =
    exactDups.forall(d => !survivorIds.contains(d))

  /** Streaming store after the drops: exactly the novel docs, none of the
    * injected delta dups. */
  def storeIsNovel(store: Set[Long], fed: Seq[Gen.Drop]): Boolean = {
    val dups = fed.flatMap(_.dupIds).toSet
    val novel = fed.flatMap(_.rows.map(_._1)).toSet -- dups
    store == novel
  }

  /** A repeated append of the same delta leaves the index row count unchanged. */
  def appendIdempotent(rowsBefore: Long, rowsAfter: Long): Boolean = rowsBefore == rowsAfter

  /** Mean recall@k of approximate neighbour lists against exact ones. */
  def recallAtK(approx: Seq[Seq[Long]], exact: Seq[Seq[Long]], k: Int): Double =
    approx.zip(exact).map { case (a, e) => (a.take(k).toSet intersect e.take(k).toSet).size.toDouble / k }
      .sum / math.max(1, exact.size)

  def norm(v: Array[Float]): Double = math.sqrt(v.map(x => x.toDouble * x).sum)

  /** Exact top-k ids by cosine, brute force over `rows` (ids = row
    * index; `norms` = their L2 norms). */
  def bruteTopK(rows: Array[Array[Float]], norms: Array[Double], q: Array[Float], k: Int): Seq[Long] = {
    val qn = norm(q)
    // worst-first heap of (cosine, id); ties keep the smaller id
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2)))
    rows.indices.foreach { i =>
      val v = rows(i); var dot = 0.0; var j = 0
      while (j < v.length) { dot += v(j).toDouble * q(j); j += 1 }
      val nv = norms(i)
      val c = if (nv == 0 || qn == 0) 0.0 else dot / (nv * qn)
      if (heap.size < k) heap.enqueue((c, i.toLong))
      else if (c > heap.head._1) { heap.dequeue(); heap.enqueue((c, i.toLong)) }
    }
    heap.toSeq.sortBy(t => (-t._1, t._2)).map(_._2)
  }
}
