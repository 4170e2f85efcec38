package graft

import graft.functions.VecFns
import graft.operators.Similarity

/** DuckDB oracle SQL for every entry in [[Queries.all]] — the driver runs
  * these on the same parquet tables and hash-compares against the Spark
  * results, so every expression here mirrors its Spark twin exactly
  * (same hash primitives, same rounding, same tie-breaks).
  */
object Oracles {

  // ── shared fragments (keep in sync with TextFns/Postings) ────────────
  private def h60(x: String) = s"(('0x'||substring(md5($x),1,15))::BIGINT)"
  private def h31(x: String) = s"(${h60(x)} % 2147483647)"

  private val Toks =
    "toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), " +
      "'[^a-z0-9_؀-ۿ]+'), t -> len(t)>0) t FROM documents)"
  private val Posting =
    "p0 AS (SELECT doc_id, CAST(len(t) AS BIGINT) dl, unnest(t) term FROM toks), " +
      "p AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) tf FROM p0 GROUP BY 1,2,3)"
  private val Dict =
    "d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) df, CAST(sum(tf) AS BIGINT) cf FROM p GROUP BY 1)"
  private val Stats =
    "st AS (SELECT CAST(count(*) AS BIGINT) n_docs, CAST(sum(dl) AS BIGINT) sum_dl " +
      "FROM (SELECT DISTINCT doc_id, dl FROM p))"

  // the direct hourly aggregate — shared by the batch partial-merge
  // query AND its streaming rollup-maintenance twin (decomposability
  // means both must equal exactly this)
  private val HourlyDirectSql =
    """SELECT epoch_ns(ts)//3600000000000 AS hour_bucket, event_type,
      |count(*) AS n_events
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  // as-of twin: the naive per-left max formulation (rank over the range
  // join); ties mirror AsOf.asofJoin's contract (right-before-left at
  // equal ts via <=, highest event_id among equal-ts right rows)
  private val AsofSql =
    """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) tsn, event_type, value FROM events),
      |p AS (SELECT event_id, user_id, tsn, value FROM ev WHERE event_type='purchase'),
      |v AS (SELECT event_id, user_id, tsn, value FROM ev WHERE event_type='view'),
      |j AS (SELECT p.event_id, p.user_id, p.tsn, p.value,
      |        v.event_id vid, v.tsn vtsn, v.value vv,
      |        row_number() OVER (PARTITION BY p.event_id
      |          ORDER BY v.tsn DESC, v.event_id DESC) rn
      |      FROM p LEFT JOIN v ON p.user_id=v.user_id AND v.tsn<=p.tsn)
      |SELECT event_id, user_id, tsn AS ts_ns, value,
      |  vid AS view_event_id, vtsn AS view_ts_ns, vv AS view_value
      |FROM j WHERE rn=1 ORDER BY event_id""".stripMargin

  private val Cents4 =
    "CAST(round(l_extendedprice*100) AS BIGINT)*CAST(round((1-l_discount)*100) AS BIGINT)"

  /** BT.601 integer luma of synthPng image `id`'s pixel (x, y). */
  private def synthLuma(id: String, x: String, y: String): String =
    s"""    299*(($id*31 + $x*7 + $y*13) % 256)
       |  + 587*(($id*17 + $x*11 + $y*3) % 256)
       |  + 114*(($id*23 + $x*5 + $y*19) % 256)""".stripMargin

  /** Sampled-frame twin shared by video_frames (RIFF/AVI) and
    * video_frames_mp4 (ISO-BMFF): both fixtures carry the same PNG
    * frames (synthPng at effective id doc_id·100 + f, 8×6) at the same
    * 100 000 µs/frame clock, sampled at (i·n)//2 for i in 0..1 — so
    * ONE SQL text replays both containers and any demux divergence
    * fails exactly one row. */
  private val videoFramesSql =
    s"""WITH d AS (SELECT doc_id, 3 + doc_id % 4 n
      |  FROM documents WHERE doc_id < 64),
      |fr AS (SELECT doc_id, n, unnest([0, n // 2]) f FROM d),
      |px AS (SELECT doc_id, f,
      |${synthLuma("(doc_id*100 + f)", "x", "y")} l
      |  FROM fr
      |  CROSS JOIN (SELECT unnest(range(0, 8)) x)
      |  CROSS JOIN (SELECT unnest(range(0, 6)) y))
      |SELECT doc_id, CAST(f AS INT) frame, CAST(8 AS INT) width,
      |  CAST(6 AS INT) height, CAST(sum(l) AS BIGINT) luma_sum
      |FROM px GROUP BY doc_id, f ORDER BY doc_id, frame""".stripMargin

  // SQL twin of Queries.piiText — the synthetic-PII enrichment both
  // pii_* queries apply (the fixture corpus has no PII of its own)
  private val PiiSql =
    "text || ' contact user' || doc_id::VARCHAR || '@example.com ip 10.0.' || " +
      "(doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR || " +
      "' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || " +
      "' call +1 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')"

  private def wordList(ws: Seq[String]): String = ws.map(s => s"'$s'").mkString("[", ",", "]")

  /** Postings' BM25 (k1 = 1.2, b = 0.75) summed per doc, round 6, over
    * rows of tf, dl, df, n_docs, sum_dl; `ind` indents continuations. */
  private def bm25Sum(ind: String): String =
    s"round(sum(\n$ind  ln((n_docs - df + 0.5)/(df + 0.5) + 1.0)\n" +
      s"$ind  * (tf * 2.2) / (tf + 1.2*(1.0 - 0.75 + 0.75*dl/(CAST(sum_dl AS DOUBLE)/n_docs)))\n" +
      s"$ind), 6) bm25"

  private def bm25Cte(terms: Seq[String]): String = {
    s"""$Toks, $Posting, $Dict, $Stats,
       |q AS (SELECT unnest(${wordList(terms)}) term),
       |m AS (SELECT p.doc_id, p.dl, p.tf, d.df, st.n_docs, st.sum_dl
       |      FROM p JOIN q USING(term) JOIN d USING(term) CROSS JOIN st),
       |bm AS (SELECT doc_id, ${bm25Sum("       ")} FROM m GROUP BY 1)""".stripMargin
  }

  // ── token statistics (mirror TextAnalysis): one spelling each ──────
  private val StopEn = wordList(graft.operators.TextAnalysis.StopwordsEn)
  private val NUniq = "len(list_distinct(t))"
  private val NStop = s"len(list_filter(t, x -> list_contains($StopEn, x)))"
  private val SumTokLen = "list_sum(list_transform(t, x -> len(x)))"
  private def ratio6(num: String) = s"round(CAST($num AS DOUBLE)/len(t),6)"

  /** text_quality's rounded per-doc ratios over `t`. */
  private val QualityRatios =
    s"""${ratio6(NUniq)} ttr,
       |${ratio6(NStop)} stop_ratio,
       |${ratio6(SumTokLen)} mean_tok_len""".stripMargin

  /** The unrounded composite quality score (empty doc: 0 ratios). */
  private val QScoreSum = {
    def arm(num: String) = s"(CASE WHEN len(t)>0 THEN ${ratio6(num)} ELSE 0.0 END)"
    s"""    ${arm(NStop)}*0.5
       |  + ${arm(NUniq)}*0.3
       |  + least(${arm(SumTokLen)}/10.0, 1.0)*0.2""".stripMargin
  }

  private val ScriptCounts =
    """  length(text)-length(regexp_replace(text,'[؀-ۿ]','','g')) n_ar,
      |  length(text)-length(regexp_replace(text,'[一-鿿]','','g')) n_cjk,
      |  length(text)-length(regexp_replace(text,'[a-zA-Z؀-ۿ一-鿿]','','g')) n_alpha""".stripMargin

  /** TextAnalysis.qualityFilter twin: unrounded stats `st`, script counts
    * `sc`, and the cascade's `reasons` in the operator's rule order. */
  private val QualityStatsCtes =
    s"""st AS (SELECT doc_id, CAST(len(t) AS BIGINT) n_tok,
       |  CAST($NUniq AS DOUBLE)/NULLIF(len(t),0) ttr,
       |  CAST($NStop AS DOUBLE)/NULLIF(len(t),0) sr,
       |  CAST($SumTokLen AS DOUBLE)/NULLIF(len(t),0) mtl
       |  FROM toks),
       |sc AS (SELECT doc_id,
       |$ScriptCounts
       |  FROM documents)""".stripMargin
  private val QualityReasons = {
    val th = graft.operators.TextAnalysis.QualityThresholds()
    s"""concat_ws(',',
       |  CASE WHEN n_tok < ${th.minTokens} THEN 'too_short' END,
       |  CASE WHEN n_tok > ${th.maxTokens} THEN 'too_long' END,
       |  CASE WHEN n_tok > 0 AND (mtl < ${th.minMeanTokLen} OR mtl > ${th.maxMeanTokLen}) THEN 'odd_token_len' END,
       |  CASE WHEN n_tok > 0 AND (n_alpha-n_ar-n_cjk)*2 > n_alpha AND sr < ${th.minStopRatio} THEN 'low_stopword' END,
       |  CASE WHEN n_tok > 0 AND ttr < ${th.minTtr} THEN 'repetitive' END) reasons""".stripMargin
  }

  // lang-id fragments (mirror TextAnalysis.langId) — shared by the
  // prediction and confusion oracles so the heuristic has ONE SQL twin
  private val LangIdCtes = {
    import graft.operators.TextAnalysis._
    s"""v AS (SELECT doc_id,
       |  len(list_intersect(list_distinct(t), $StopEn)) ven,
       |  len(list_intersect(list_distinct(t), ${wordList(StopwordsDe)})) vde,
       |  len(list_intersect(list_distinct(t), ${wordList(StopwordsFr)})) vfr,
       |  len(list_intersect(list_distinct(t), ${wordList(StopwordsEs)})) ves
       |  FROM toks),
       |r AS (SELECT doc_id,
       |$ScriptCounts
       |  FROM documents)""".stripMargin
  }
  private val LangIdCase =
    """CASE
      |  WHEN n_alpha>0 AND CAST(n_ar AS DOUBLE)/n_alpha > 0.5 THEN 'ar'
      |  WHEN n_alpha>0 AND CAST(n_cjk AS DOUBLE)/n_alpha > 0.3 THEN 'zh'
      |  WHEN ven>=vde AND ven>=vfr AND ven>=ves THEN 'en'
      |  WHEN vde>=vfr AND vde>=ves THEN 'de'
      |  WHEN vfr>=ves THEN 'fr'
      |  ELSE 'es' END""".stripMargin

  // centroid-cosine fragments (mirror Similarity.centroidCos6) — ONE
  // SQL twin of the integer-relational grid, consumed by cluster_stats
  // AND embedding_outliers so the two reports cannot drift
  private val CentroidCtes =
    """r AS (SELECT vec_id, label,
      |    CAST(unnest(list_transform(embedding, x -> round(x*1e7))) AS BIGINT) v,
      |    unnest(range(1, len(embedding)+1)) dim
      |  FROM embeddings),
      |s AS (SELECT label, dim, CAST(sum(v) AS BIGINT) s FROM r GROUP BY 1,2),
      |pv AS (SELECT r.label, vec_id,
      |    sum(CAST(r.v AS HUGEINT) * s.s) dot,
      |    CAST(sum(r.v * r.v) AS BIGINT) nv
      |  FROM r JOIN s ON r.label=s.label AND r.dim=s.dim GROUP BY 1,2),
      |ns AS (SELECT label, sum(CAST(s AS HUGEINT) * s) ns2 FROM s GROUP BY 1),
      |cc AS (SELECT vec_id, pv.label,
      |    CAST(floor(CAST(dot AS DOUBLE)
      |      / (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(ns2 AS DOUBLE))) * 1e6) AS BIGINT) cos6
      |  FROM pv JOIN ns USING(label) WHERE nv > 0 AND ns2 > 0)""".stripMargin

  // quantized-vector fragments (mirror VecFns.quantize / cosineQ)
  private val EmbQ =
    "e AS (SELECT vec_id, list_transform(embedding, x -> round(x*1e7)) qv FROM embeddings)"
  private def cosQ(a: String, b: String) =
    s"round(list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b))),6)"

  /** The single ANN probe `q` (qq): vec_id 0's quantized vector. */
  private val ProbeQ = "q AS (SELECT qv qq FROM e WHERE vec_id=0)"

  /** Similarity.exactTopK twin: top 20 of `src` (vec_id, qv) rows passing
    * `where` by exact quantized cosine to the probe `q`. */
  private def exactTopKSql(src: String, where: String = ""): String =
    s"""SELECT vec_id, ${cosQ("qv", "qq")} cos FROM $src CROSS JOIN q
       |${if (where.isEmpty) "" else s"WHERE $where\n"}ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin

  /** Exact rescore of candidate ids `src` (vec_id) against `e`, top k. */
  private def rescoreTopK(src: String, k: Int): String =
    s"""SELECT e.vec_id, ${cosQ("e.qv", "q.qq")} cos
       |FROM $src JOIN e USING(vec_id) CROSS JOIN q
       |ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin

  /** SQ8 encode CTE pair (VecFns.sq8CodesLocal / Similarity.sq8Codes
    * twin) — ONE fragment shared by the standalone `ann_sq8` oracle and
    * ivfSpillOracle's code-rank tail, so the two replays cannot diverge
    * on what "SQ8" means: `cd` codes the corpus relation `src`
    * (vec_id, qv), `qc` codes the query relation `q` (qq); zero-norm
    * rows drop on both legs (the engine returns EMPTY for a zero-norm
    * query — error vs empty must not diverge). `keys` (e.g.
    * "probe_id, ") carries batch key columns through both legs for the
    * batched replays; "" reproduces the single-query text verbatim. */
  private def sq8Ctes(src: String, keys: String = ""): String =
    s"""cd AS (SELECT ${keys}vec_id, qv, list_transform(qv, x -> round(x*127/qm)) c8
       |  FROM (SELECT ${keys}vec_id, qv,
       |          list_max(list_transform(qv, x -> abs(x))) qm FROM $src)
       |  WHERE qm > 0),
       |qc AS (SELECT ${keys}list_transform(qq, x -> round(x*127/qm)) q8
       |  FROM (SELECT ${keys}qq, list_max(list_transform(qq, x -> abs(x))) qm FROM q)
       |  WHERE qm > 0)""".stripMargin

  /** SQL list literal of hyperplane j's ±1 signs — ONE rendering shared
    * by the LSH-bucket and random-projection oracles. */
  private def signsSql(dim: Int, j: Int, seed: String): String =
    Similarity.hyperplaneSigns(dim, j, seed)
      .map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** Random-hyperplane bucket expression with the SAME literal signs as
    * Similarity.lshBucket (derived on the driver from the shared md5
    * family). */
  private def bucketExpr(vcol: String, dim: Int, nBits: Int, seed: String): String =
    (0 until nBits).map { j =>
      s"(CASE WHEN list_dot_product($vcol, ${signsSql(dim, j, seed)}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // canonicalize (TextFns.canonicalize twin); g = regexp_replace global flag
  private val StripSet = " -‏‎﻿"
  private def canonSql(x: String): String =
    s"nullif(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace($x, " +
      "'(?i)\\((?:may|may allah be pleased|رضي الله عن(?:ه|ها|هم))[^)]*\\)', '', 'g'), " +
      "'(?i)\\b(reported|narrated|said|stated)\\b:?', '', 'g'), " +
      "'[:،]', '', 'g'), " +
      s"'\\s+', ' ', 'g'), '$StripSet'), '')"

  private def sq(s: String): String = s.replace("'", "''")

  // the reference corpora, at the paths the engine rows read
  private val QuranGlob = s"${Queries.QuranDir}/surah_*.jsonl"
  private val HadithRead = s"read_json_auto('${Queries.HadithBooks}', union_by_name=true)"
  /** Ingest.validated's gate: the language set is exactly {ar, en}. */
  private val BilingualPred =
    "list_sort(list_distinct(list_transform(texts, t -> t.language))) = ['ar','en']"
  private val BilingualHadith = s"$HadithRead\n  WHERE $BilingualPred"

  // ── word k-gram shingles of `t` (mirror TextFns.shingles) ───────────
  private def shingleEnd(k: Int): String = if (k == 2) "len(t)" else s"len(t)-${k - 2}"
  /** The '_'-joined k-gram starting at 1-based token index `i`. */
  private def shingleSql(k: Int, i: String): String =
    s"list_aggr(t[$i:$i+${k - 1}],'string_agg','_')"
  /** Every k-gram in order (none below k tokens) and their start indexes. */
  private def shinglesSql(k: Int): String =
    s"""CASE WHEN len(t)>=$k THEN
       |  [${shingleSql(k, "i")} for i in range(1, ${shingleEnd(k)})]
       |  ELSE [] END""".stripMargin
  private def shingleStarts(k: Int): String =
    s"CASE WHEN len(t)>=$k THEN range(1, ${shingleEnd(k)}) ELSE [] END"
  /** Distinct word 3-gram sets `sh` (doc_id, s) — Dedup.shingleSets. */
  private val ShingleSets3 = s"sh AS (SELECT doc_id, list_distinct(${shinglesSql(3)}) s FROM toks)"

  // ── the shared token-minhash-LSH-verify chain (mirror Dedup): one
  // builder per stage, used verbatim by every near-dup oracle, so the
  // pair, incremental, n-gram, component and ingest twins cannot diverge

  /** MinHash universal-hash signature CTEs over a (doc_id, elem) relation
    * named `elems` — same md5-derived coefficients as Dedup.minhashCoeffs. */
  private def minhashSigsCte(numHashes: Int): String = {
    val (as_, bs) = graft.operators.Dedup.minhashCoeffs(numHashes)
    val aLit = as_.mkString("[", ",", "]")
    val bLit = bs.mkString("[", ",", "]")
    s"""h0 AS (SELECT doc_id, ${h31("elem")} h0 FROM elems),
       |sigs AS (SELECT doc_id, CAST(seed AS INT) seed,
       |  min(($aLit[CAST(seed+1 AS INT)]*h0 + $bLit[CAST(seed+1 AS INT)]) % ${graft.operators.Dedup.MinhashP}) minh
       |  FROM h0 CROSS JOIN (SELECT unnest(range(0,$numHashes)) seed) GROUP BY 1,2)""".stripMargin
  }

  private val TokenElems = "SELECT doc_id, unnest(list_distinct(t)) elem FROM toks"

  /** Dedup.minhashSignatures + bandKeys twin: 16 MinHash signatures of the
    * (doc_id, elem) query `elemsSql`, banded by `rowsPerBand` into
    * `banded0` (doc_id, band, 60-bit md5 band_key). */
  private def bandKeysCtes(elemsSql: String, rowsPerBand: Int): String =
    s"""elems AS ($elemsSql),
       |${minhashSigsCte(16)},
       |banded0 AS (SELECT doc_id, seed//$rowsPerBand band,
       |  ('0x' || substring(md5(string_agg(minh::VARCHAR, ':' ORDER BY seed)),1,15))::BIGINT band_key
       |  FROM sigs GROUP BY doc_id, seed//$rowsPerBand)""".stripMargin

  /** Twin of `Dedup.capBuckets` (LSH skew guard): `hot_<out>` lists the
    * over-cap buckets of `src` on `keys`; `<out>` is `src` minus every
    * row in one. The default cap matches the Scala side's 10000; the
    * sf0.01 fixtures never reach it, so this is semantic parity (a hot
    * corpus would diverge without it), not extra test power. */
  private def capCte(src: String, out: String, keys: Seq[String],
                     maxBucket: Int = 10000): String = {
    val ks = keys.mkString(", ")
    s"""hot_$out AS (SELECT $ks FROM $src GROUP BY $ks HAVING count(*) > $maxBucket),
       |$out AS (SELECT $src.* FROM $src ANTI JOIN hot_$out USING($ks))""".stripMargin
  }

  /** Dedup.lshCandidatePairs twin (and incrementalNearDupPairs' probe
    * form): distinct (a, b) pairs of `x` × `y` rows sharing a (band,
    * band_key); a self-join (`x == y`) keeps a < b. */
  private def bandPairsCte(out: String, x: String, y: String,
                           xa: String = "x", ya: String = "y"): String = {
    val lower = if (x == y) s" AND $xa.doc_id<$ya.doc_id" else ""
    s"""$out AS (SELECT DISTINCT $xa.doc_id a, $ya.doc_id b FROM $x $xa JOIN $y $ya
       |  ON $xa.band=$ya.band AND $xa.band_key=$ya.band_key$lower)""".stripMargin
  }

  private val TokenSetsCte =
    "dt AS (SELECT doc_id, list_distinct(t) s, len(list_distinct(t)) n FROM toks)"

  /** Dedup.verifyPairs twin: exact Jaccard `jacc` of the (a, b) pairs of
    * `cand` over the (doc_id, s, n) sets `sets` (x = side a, y = side b). */
  private def verifyJacc(cand: String, sets: String): String =
    "round(CAST(len(list_intersect(x.s,y.s)) AS DOUBLE)" +
      "/(x.n+y.n-len(list_intersect(x.s,y.s))),6) jacc\n" +
      s"  FROM $cand JOIN $sets x ON x.doc_id=a JOIN $sets y ON y.doc_id=b"

  /** Dedup.connectedComponents twin, CTE names prefixed `p`: `reach`
    * enumerates (node, reachable label) over the (a, b) `edges`; min per
    * node (`comp`) IS the propagation fixpoint the operator reaches. */
  private def componentsCtes(p: String, edges: String, withComp: Boolean = true): String =
    s"""${p}sym AS (SELECT a, b FROM $edges UNION ALL SELECT b, a FROM $edges),
       |${p}nodes AS (SELECT DISTINCT a AS node FROM ${p}sym),
       |${p}reach AS (SELECT node, node AS label FROM ${p}nodes
       |  UNION
       |  SELECT s.b AS node, r.label FROM ${p}reach r JOIN ${p}sym s ON s.a = r.node)""".stripMargin +
      (if (withComp) s",\n${p}comp AS (SELECT node, min(label) component FROM ${p}reach GROUP BY 1)" else "")

  /** SCALE-AWARE spherical spill-IVF replay (the r14 `ann_topk`
    * default — Similarity.withSpillIvf + ivfProbe): derives K and
    * nProbe from count(*) with the same pow2(round(log2(3·√N))) /
    * max(2, 7K//128) formulas as nListsFor/nProbeFor, trains `iters`
    * spherical Lloyd steps on the truncated-integer-mean grid
    * (assignment ranks dot/|c| — |v| cancels; the norm guard CASE
    * mirrors centNorms), double-assigns boundary vectors whose top-2
    * centroid cosines are within Similarity.SpillDelta, probes the
    * nProbe spherically-nearest lists, and exact-reranks. Every
    * arithmetic step is either exact integer math or one
    * correctly-rounded IEEE sqrt/division of identical inputs, so the
    * replay is bit-for-bit. `trainPred` restricts the
    * TRAINING corpus (K sizing, seeds, Lloyd refinement) while
    * assignment and probe stay corpus-wide — the incremental-append
    * twin (`ivf_append_probe`): per-vector assignment to fixed
    * centroids is the same whether done at base build or at append,
    * so one emitter replays both lifecycles. `batchPred` (non-empty)
    * switches to the BATCHED form (`ann_probe_join` —
    * Similarity.ivfProbeSpillJoin): the query relation keeps its
    * probe_id, the probe/cand/rank CTEs partition by it, and the
    * output is (probe_id, vec_id, cos, rn ≤ batchK) ordered by
    * (probe_id, rn) — ONE emitter for the single and batched replays,
    * so their training/spill/probe semantics can never drift. */
  private def ivfSpillOracle(iters: Int,
                             probeMult: Int = 7, probeFloor: Int = 2,
                             sq8Rerank: Int = 0,
                             trainPred: String = "TRUE",
                             fixedK: Int = 0,
                             batchPred: String = "", batchK: Int = 10,
                             pqRerank: Int = 0, pqM: Int = 8,
                             pqKsub: Int = 16, pqIters: Int = 1,
                             rpqRerank: Int = 0): String = {
    def norm(c: String) =
      s"(CASE WHEN sqrt(list_dot_product($c,$c))=0 THEN 1 ELSE sqrt(list_dot_product($c,$c)) END)"
    def itCte(t: Int): String = {
      val sph = s"list_dot_product(e.qv, c$t.cqv)/${norm(s"c$t.cqv")}"
      s"""a$t AS (SELECT vec_id, qv, i centroid FROM (
         |  SELECT e.vec_id, e.qv, c$t.i,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY $sph DESC, c$t.i) rn
         |  FROM et e CROSS JOIN c$t) WHERE rn=1),
         |cells$t AS (SELECT centroid i, p, sum(CAST(qv[p+1] AS BIGINT)) s, count(*) n
         |  FROM a$t CROSS JOIN (SELECT unnest(range(0, ${Queries.Dim})) p) GROUP BY 1,2),
         |cm$t AS (SELECT i, list(CAST(s // n AS DOUBLE) ORDER BY p) cqv FROM cells$t GROUP BY i),
         |c${t + 1} AS (SELECT c$t.i, coalesce(cm$t.cqv, c$t.cqv) cqv FROM c$t LEFT JOIN cm$t USING(i))""".stripMargin
    }
    // K via EXACT integer comparisons (nListsFor's twin): e = smallest
    // exponent in [4,18] with 9N < 2^(2e+1); powers of two ≤ 2^37 are
    // exact doubles, so the comparison cannot round differently from
    // the Scala side (a libm LOG2 could — r14 review)
    val sphf = s"list_dot_product(e.qv, cf.cqv)/${norm("cf.cqv")}"
    s"""WITH $EmbQ,
       |et AS (SELECT * FROM e WHERE $trainPred),
       |kk AS (${if (fixedK > 0)
           s"SELECT $fixedK k, GREATEST($probeFloor, ($probeMult*$fixedK)//128) np"
         else
           s"""SELECT CAST(POWER(2, ee) AS INT) k,
       |              GREATEST($probeFloor, ($probeMult*CAST(POWER(2, ee) AS INT))//128) np
       |       FROM (SELECT coalesce(min(x), 18) ee
       |             FROM (SELECT unnest(range(4, 18)) x), (SELECT count(*) n FROM et)
       |             WHERE 9*n < POWER(2, 2*x+1))"""}),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id)-1 i, qv cqv FROM et
       |       QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
       |${(0 until iters).map(itCte).mkString(",\n")},
       |cf AS (SELECT i, cqv FROM c$iters),
       |ax AS (SELECT vec_id, qv, i, dn, rn FROM (
       |  SELECT e.vec_id, e.qv, cf.i, $sphf dn,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY $sphf DESC, cf.i) rn
       |  FROM e CROSS JOIN cf) WHERE rn<=2),
       |asg AS (SELECT vec_id, qv, i centroid, i prim FROM ax WHERE rn=1
       |  UNION ALL
       |  SELECT a2.vec_id, a2.qv, a2.i, a1.i FROM ax a2 JOIN ax a1
       |    ON a1.vec_id=a2.vec_id AND a1.rn=1 AND a2.rn=2
       |  WHERE (a1.dn - a2.dn)/sqrt(list_dot_product(a2.qv,a2.qv)) <= ${graft.operators.Similarity.SpillDelta}),
       |${if (batchPred.nonEmpty)
           // batched tail (Similarity.ivfProbeSpillJoin): probe_id
           // flows through probe schedule, candidate dedup, and rank
           s"""q AS (SELECT vec_id probe_id, qv qq FROM e WHERE $batchPred),
              |probe AS (SELECT probe_id, qq, cf.i FROM cf CROSS JOIN q
              |  QUALIFY row_number() OVER (PARTITION BY probe_id
              |    ORDER BY list_dot_product(qq, cf.cqv)/${norm("cf.cqv")} DESC, cf.i) <= (SELECT np FROM kk)),
              |cand AS (SELECT DISTINCT probe_id, vec_id, qv
              |  FROM asg JOIN probe ON asg.centroid = probe.i),
              |${if (sq8Rerank == 0) "rr AS (SELECT * FROM cand)"
                 else
                   // batched code-rank tail (Similarity.ivfSq8ProbeJoin):
                   // per-probe SQ8 approx rank cuts to sq8Rerank before
                   // the exact rescore — same shared sq8 fragment, keyed
                   // by probe_id
                   s"""${sq8Ctes("cand", "probe_id, ")},
                      |rr AS (SELECT cd.probe_id, cd.vec_id, cd.qv
                      |  FROM cd JOIN qc USING(probe_id)
                      |  QUALIFY row_number() OVER (PARTITION BY cd.probe_id
                      |    ORDER BY ${cosQ("c8", "q8")} DESC, vec_id) <= $sq8Rerank)""".stripMargin},
              |sc AS (SELECT c.probe_id, c.vec_id, ${cosQ("c.qv", "q.qq")} cos
              |  FROM rr c JOIN q ON c.probe_id = q.probe_id)
              |SELECT probe_id, vec_id, cos, rn FROM (
              |  SELECT probe_id, vec_id, cos,
              |    CAST(row_number() OVER (PARTITION BY probe_id
              |      ORDER BY cos DESC, vec_id) AS INT) rn FROM sc)
              |WHERE rn <= $batchK ORDER BY probe_id, rn""".stripMargin
         else
           s"""$ProbeQ,
              |probe AS (SELECT cf.i FROM cf CROSS JOIN q
              |  QUALIFY row_number() OVER (
              |    ORDER BY list_dot_product(qq, cf.cqv)/${norm("cf.cqv")} DESC, cf.i) <= (SELECT np FROM kk)),
              |cand AS (SELECT DISTINCT vec_id, qv FROM asg WHERE centroid IN (SELECT i FROM probe))""".stripMargin}
       |${if (batchPred.nonEmpty) ""
         else if (rpqRerank > 0) {
           // residual IVF×PQ tail (Similarity.ivfProbe, IvfCode.Rpq): books train
           // on PRIMARY-row residuals qv − own-list centroid (exact
           // integers — the spill centroids are truncated-integer
           // means), candidates dedupe by the row-local primary rule
           // (the probeDeduped predicate), each surviving copy encodes
           // against ITS list, and ADC reconstructs cent_L + book
           // concat: num = q·cent_L + Σⱼ q⁽ʲ⁾·c⁽ʲ⁾, den² = |cent_L|² +
           // 2·Σⱼ cent_L⁽ʲ⁾·c⁽ʲ⁾ + Σⱼ|c⁽ʲ⁾|² — every term an exact
           // integer product on the grid, same decomposition as the
           // Scala LUTs. pqCtes trains on the residual relation `re`;
           // its plut (query×book) is reused, its pcodes is unused
           // (candidates code via rcodes against their holding list).
           val rd = Queries.Dim / pqM
           s""",rcand AS (SELECT vec_id, qv, centroid FROM asg
              |  WHERE centroid IN (SELECT i FROM probe)
              |    AND (centroid = prim OR prim NOT IN (SELECT i FROM probe))),
              |re AS (SELECT a.vec_id, list_transform(range(1, ${Queries.Dim + 1}),
              |    ix -> a.qv[ix] - cf.cqv[ix]) qv
              |  FROM (SELECT vec_id, qv, centroid FROM asg WHERE centroid = prim) a
              |  JOIN cf ON a.centroid = cf.i),
              |${pqCtes(pqM, pqKsub, pqIters, src = "re")},
              |rcres AS (SELECT c.vec_id, c.centroid,
              |    list_transform(range(1, ${Queries.Dim + 1}),
              |      ix -> c.qv[ix] - cf.cqv[ix]) rqv
              |  FROM rcand c JOIN cf ON c.centroid = cf.i),
              |rsub AS (SELECT vec_id, centroid, j,
              |    list_slice(rqv, j*$rd+1, j*$rd+$rd) s FROM rcres CROSS JOIN pjs),
              |rcodes AS (SELECT vec_id, centroid, j, i FROM (
              |  SELECT sub.vec_id, sub.centroid, sub.j, c.i,
              |    row_number() OVER (PARTITION BY sub.vec_id, sub.centroid, sub.j
              |      ORDER BY (list_dot_product(c.cqv,c.cqv)
              |        - 2*list_dot_product(sub.s,c.cqv)) ASC, c.i ASC) rn
              |  FROM rsub sub JOIN pcf c USING(j)) WHERE rn=1),
              |csub AS (SELECT cf.i cl, pjs.j,
              |    list_slice(cf.cqv, pjs.j*$rd+1, pjs.j*$rd+$rd) cs
              |  FROM cf CROSS JOIN pjs WHERE cf.i IN (SELECT i FROM probe)),
              |pxl AS (SELECT csub.cl, csub.j, pcf.i,
              |    list_dot_product(csub.cs, pcf.cqv) x FROM csub JOIN pcf USING(j)),
              |radc AS (SELECT rc.vec_id, rc.centroid,
              |    sum(plut.d) dsum, sum(plut.n2) n2sum, sum(pxl.x) xsum
              |  FROM rcodes rc JOIN plut ON rc.j=plut.j AND rc.i=plut.i
              |  JOIN pxl ON pxl.cl=rc.centroid AND pxl.j=rc.j AND pxl.i=rc.i
              |  GROUP BY 1,2),
              |qcs AS (SELECT cf.i, list_dot_product(q.qq, cf.cqv) d0,
              |    list_dot_product(cf.cqv, cf.cqv) c2 FROM cf CROSS JOIN q),
              |rsc AS (SELECT radc.vec_id, (qcs.d0 + dsum) num,
              |    (qcs.c2 + 2*xsum + n2sum) den2
              |  FROM radc JOIN qcs ON qcs.i = radc.centroid),
              |rrk AS (SELECT rsc.vec_id FROM rsc
              |  CROSS JOIN (SELECT sqrt(list_dot_product(qq,qq)) qn FROM q)
              |  WHERE den2 > 0 AND qn > 0
              |  QUALIFY row_number() OVER (
              |    ORDER BY round(num/(qn*sqrt(den2)),6) DESC, rsc.vec_id ASC) <= ${20 * rpqRerank})
              |${rescoreTopK("rrk", 20)}""".stripMargin
         } else if (pqRerank > 0)
           // composed IVF×PQ tail (Similarity.ivfProbe, IvfCode.Pq): books train
           // on the FULL corpus, ADC ranks the spill-probed candidates
           // only, exact rerank — the pqCtes fragment is byte-shared
           // with the standalone ann_pq replay
           s""",${pqCtes(pqM, pqKsub, pqIters)},
              |${pqRankTail("cand", pqRerank, 20)}""".stripMargin
         else if (sq8Rerank == 0)
           exactTopKSql("cand")
         else
           // IVF+SQ8 tail (Similarity.ivfProbe, IvfCode.Sq8): candidates are
           // code-ranked (sq8Ctes — the SAME fragment as the ann_sq8
           // twin) and only the top sq8Rerank are exact-rescored
           s""",${sq8Ctes("cand")},
              |r AS (SELECT vec_id, qv FROM cd CROSS JOIN qc
              |  QUALIFY row_number() OVER (
              |    ORDER BY ${cosQ("c8", "q8")} DESC, vec_id) <= $sq8Rerank)
              |${exactTopKSql("r")}""".stripMargin}""".stripMargin
  }

  /** The PQ training + coding + ADC CTE block — `p`-prefixed names so
    * it composes inside the spill replay (whose c0/a0/cells0 names it
    * would otherwise collide with). Trains on the FULL corpus relation
    * `e` and slices the single query from CTE `q` (qq); emits `padc`
    * (vec_id, num, den2). ONE fragment for the standalone `ann_pq`
    * replay and the composed `ann_ivf_pq` tail — the two cannot drift
    * on what "PQ" means. */
  private def pqCtes(m: Int, ksub: Int, iters: Int,
                     src: String = "e"): String = {
    val dsub = Queries.Dim / m
    def d2(s: String, c: String) =
      s"(list_dot_product($c,$c) - 2*list_dot_product($s,$c))"
    def assignCte(out: String, cents: String): String =
      s"""$out AS (SELECT vec_id, j, s, i FROM (
         |  SELECT sub.vec_id, sub.j, sub.s, c.i,
         |    row_number() OVER (PARTITION BY sub.vec_id, sub.j
         |      ORDER BY ${d2("sub.s", "c.cqv")} ASC, c.i ASC) rn
         |  FROM psub sub JOIN $cents c USING(j)) WHERE rn=1)""".stripMargin
    def itCte(t: Int): String =
      s"""${assignCte(s"pa$t", s"pc$t")},
         |pcells$t AS (SELECT j, i, p, sum(CAST(s[p+1] AS BIGINT)) sm, count(*) n
         |  FROM pa$t CROSS JOIN (SELECT unnest(range(0, $dsub)) p) GROUP BY 1,2,3),
         |pcm$t AS (SELECT j, i, list(CAST(sm // n AS DOUBLE) ORDER BY p) cqv
         |  FROM pcells$t GROUP BY 1,2),
         |pc${t + 1} AS (SELECT c.j, c.i, coalesce(m.cqv, c.cqv) cqv
         |  FROM pc$t c LEFT JOIN pcm$t m ON c.j=m.j AND c.i=m.i)""".stripMargin
    s"""pjs AS (SELECT unnest(range(0, $m)) j),
       |psub AS (SELECT vec_id, j, list_slice(qv, j*$dsub+1, j*$dsub+$dsub) s
       |  FROM $src CROSS JOIN pjs),
       |pc0 AS (SELECT j, row_number() OVER (PARTITION BY j ORDER BY vec_id)-1 i, s cqv
       |  FROM psub QUALIFY row_number() OVER (PARTITION BY j ORDER BY vec_id) <= $ksub),
       |${(0 until iters).map(itCte).mkString(",\n")},
       |pcf AS (SELECT j, i, cqv FROM pc$iters),
       |${assignCte("pcodes", "pcf")},
       |pqs AS (SELECT j, list_slice(qq, j*$dsub+1, j*$dsub+$dsub) s
       |  FROM q CROSS JOIN pjs),
       |plut AS (SELECT pcf.j, pcf.i, list_dot_product(pqs.s, pcf.cqv) d,
       |    list_dot_product(pcf.cqv, pcf.cqv) n2 FROM pcf JOIN pqs USING(j)),
       |padc AS (SELECT vec_id, sum(d) num, sum(n2) den2
       |  FROM pcodes JOIN plut USING(j, i) GROUP BY 1)""".stripMargin
  }

  /** The PQ ADC rank + exact-rerank tail over `padc` restricted to
    * candidate relation `src` (vec_id[, qv]) — shared by the
    * standalone and composed replays. */
  private def pqRankTail(src: String, rerank: Int, k: Int): String =
    s"""rk AS (SELECT padc.vec_id FROM padc JOIN $src USING(vec_id)
       |  CROSS JOIN (SELECT sqrt(list_dot_product(qq,qq)) qn FROM q)
       |  WHERE den2 > 0 AND qn > 0
       |  QUALIFY row_number() OVER (
       |    ORDER BY round(num/(qn*sqrt(den2)),6) DESC, padc.vec_id ASC) <= ${k * rerank})
       |${rescoreTopK("rk", k)}""".stripMargin

  /** Product-quantization replay (Similarity.pqTopK): m per-subspace
    * euclidean Lloyd trainings on the integer grid — lowest-id seeds,
    * assignment by the SHIFTED exact form c·c − 2·s·c (the row-constant
    * s·s shifts every candidate equally; every term an exact integer
    * ≤ 1.6e15 < 2⁵³, same form as the Scala side's bestSubCode),
    * truncated-integer means (HUGEINT `//`), empty cells
    * keep their previous centroid — then ADC: per-vector approx cosine
    * Σⱼ q⁽ʲ⁾·c⁽ʲ⁾ / (|q|·√Σⱼ|c⁽ʲ⁾|²) over the trained books, top
    * k·rerank by (round-6 approx DESC, vec_id), exact rescore, top k.
    * Zero-norm reconstructions drop (den2 > 0 — the SQ8 qm > 0 rule's
    * PQ analog); a zero-norm query yields zero rows. */
  private def pqOracle(m: Int, ksub: Int, iters: Int, rerank: Int,
                       k: Int = 20): String =
    s"""WITH $EmbQ,
       |$ProbeQ,
       |${pqCtes(m, ksub, iters)},
       |${pqRankTail("e", rerank, k)}""".stripMargin

  /** Parity-scoped near-dup closure CTEs for the two-phase streaming
    * ingest oracle: capped bands of one parity half → candidate
    * self-join → exact-Jaccard verify → min-label recursive closure →
    * `${p}surv` survivors. ONE emitter for both phases, so their
    * semantics (threshold, rounding, closure rule) can never drift. */
  private def parityClosureCtes(p: String, parity: Int): String =
    s"""${p}0 AS (SELECT * FROM banded0 WHERE doc_id % 2 = $parity),
       |${capCte(s"${p}0", s"${p}b", Seq("band", "band_key"))},
       |${bandPairsCte(s"${p}cand", s"${p}b", s"${p}b")},
       |${p}j AS (SELECT a, b FROM (SELECT a, b, ${verifyJacc(s"${p}cand", "dt")})
       |  WHERE jacc>=0.9),
       |${componentsCtes(p, s"${p}j")},
       |${p}surv AS (SELECT doc_id FROM documents WHERE doc_id % 2 = $parity
       |  AND NOT EXISTS (SELECT 1 FROM ${p}comp
       |                  WHERE node = doc_id AND node <> component))""".stripMargin

  /** Events.funnel twin: stage k's reach time = min event of stage k
    * AT-OR-AFTER stage k-1's reach (the sequential constraint) and, with
    * `maxStepNs`, at most that many ns after it; the rollup sums exact
    * long deltas. */
  private def funnelSql(maxStepNs: Option[Long]): String = {
    def within(prev: String) = maxStepNs.fold("")(w => s" AND t<=$prev+$w")
    s"""WITH ev AS (SELECT user_id u, epoch_ns(ts) t, event_type y FROM events
       |            WHERE event_type IN ('signup','click','purchase')
       |              AND user_id IS NOT NULL),
       |s1 AS (SELECT u, min(t) t1 FROM ev WHERE y='signup' GROUP BY 1),
       |s2 AS (SELECT e.u, min(t) t2 FROM ev e JOIN s1 USING(u)
       |       WHERE y='click' AND t>=t1${within("t1")} GROUP BY 1),
       |s3 AS (SELECT e.u, min(t) t3 FROM ev e JOIN s2 USING(u)
       |       WHERE y='purchase' AND t>=t2${within("t2")} GROUP BY 1),
       |u0 AS (SELECT DISTINCT u FROM ev),
       |w AS (SELECT u0.u, t1, t2, t3 FROM u0
       |      LEFT JOIN s1 USING(u) LEFT JOIN s2 USING(u) LEFT JOIN s3 USING(u)),
       |r AS (
       |  SELECT 1 stage_idx, 'signup' stage, CAST(count(t1) AS BIGINT) n_users,
       |    CAST(sum(t1-t1) AS BIGINT) sum_dt_ns, CAST(max(t1-t1) AS BIGINT) max_dt_ns FROM w
       |  UNION ALL
       |  SELECT 2, 'click', CAST(count(t2) AS BIGINT),
       |    CAST(sum(t2-t1) AS BIGINT), CAST(max(t2-t1) AS BIGINT) FROM w
       |  UNION ALL
       |  SELECT 3, 'purchase', CAST(count(t3) AS BIGINT),
       |    CAST(sum(t3-t1) AS BIGINT), CAST(max(t3-t1) AS BIGINT) FROM w)
       |SELECT * FROM r ORDER BY stage_idx""".stripMargin
  }

  // ── fragments shared by a few rows (vals: defined before `all`) ─────
  /** Scoring's fts signal: bm25 squashed into [0, 1), 0.0 without a hit. */
  private val FtsSignal =
    "CASE WHEN bm25 IS NOT NULL THEN least(1.0, greatest(0.0, greatest(0.0,bm25)/(1.0+greatest(0.0,bm25)))) ELSE 0.0 END"

  /** The hybrid searches' scored columns (no phrase or narrator bonus). */
  private val HybridScoreCols =
    """round(v,4) vector_similarity, round(f,4) fts_signal,
      |  CAST(0.0 AS DOUBLE) phrase_bonus, round(cov,4) term_coverage,
      |  round(least(1.0, greatest(0.0, 0.6*v + 0.4*f + 0.0 + 0.0 + 0.2*cov)),4) score""".stripMargin

  private val HadithCatalogSql =
    s"""WITH v AS (SELECT book_id, book_title_en, chapter_id
       |  FROM $BilingualHadith)
       |SELECT book_id, min(book_title_en) AS title_en, count(*) AS total_hadiths,
       |count(DISTINCT chapter_id) AS total_chapters
       |FROM v GROUP BY 1 ORDER BY 1""".stripMargin
  private val NarratorsCte =
    s"""v AS (SELECT book_id, ${canonSql("narrator")} cn
       |  FROM $BilingualHadith)""".stripMargin

  /** Seed-centroid IVF: the first 16 vectors as centroids `c`, each
    * vector's max-dot centroid in `asg`. */
  private val SeedIvfCtes =
    """c AS (SELECT row_number() OVER (ORDER BY vec_id)-1 i, qv cqv
      |      FROM (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT 16)),
      |asg AS (SELECT vec_id, qv, i centroid FROM (
      |  SELECT e.vec_id, e.qv, c.i,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.qv, c.cqv) DESC, c.i) rn
      |  FROM e CROSS JOIN c) WHERE rn=1)""".stripMargin

  /** Dedup.simhash twin: tf-weighted ±1 votes `s` per bit, the fingerprint column. */
  private val SimhashCtes =
    s"""$Toks, $Posting,
       |b AS (SELECT doc_id, tf, ${h60("term")} h FROM p),
       |e AS (SELECT doc_id, j, CASE WHEN (h // (1::BIGINT << j)) % 2 = 1 THEN tf ELSE -tf END c
       |      FROM b CROSS JOIN (SELECT unnest(range(0,32)) j)),
       |s AS (SELECT doc_id, j, sum(c) sc FROM e GROUP BY 1,2)""".stripMargin
  private val SimhashCol =
    "CAST(sum(CASE WHEN sc>0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) simhash"

  /** The stream-stream join twins, inner and (`outer`) left outer. */
  private def streamJoinSql(outer: Boolean): String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 tsm,
       |  event_type, value FROM events),
       |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
       |v AS (SELECT * FROM e WHERE event_type = 'view')
       |SELECT p.event_id AS purchase_id, p.user_id AS user_id,
       |  p.tsm AS purchase_ts_us, p.value AS purchase_value,
       |  v.event_id AS view_id, v.tsm AS view_ts_us, v.value AS view_value
       |FROM p ${if (outer) "LEFT JOIN" else "JOIN"} v ON p.user_id = v.user_id
       |  AND v.tsm BETWEEN p.tsm - 3600000000 AND p.tsm
       |ORDER BY purchase_id, ${if (outer) "coalesce(view_id, -1)" else "view_id"}""".stripMargin

  /** The incremental twins' checksums: `fresh` now, `prev` the earlier build. */
  private val SnapshotCtes =
    """fresh AS (SELECT doc_id, sha256(text) checksum FROM documents),
      |prev AS (SELECT doc_id, CASE WHEN doc_id%50=0 THEN sha256(text||'x') ELSE sha256(text) END checksum
      |         FROM documents WHERE doc_id<450)""".stripMargin

  /** The strip oracles' output: `src` tokens minus their `covered` positions. */
  private def stripRebuild(src: String): String =
    s"""SELECT doc_id,
       |  coalesce(array_to_string([t[i] for i in range(1, len(t)+1) if NOT list_contains(covered, i)], ' '), '') text_clean,
       |  CAST(len(t) AS BIGINT) n_tokens,
       |  CAST(len(covered) AS BIGINT) n_stripped
       |FROM $src ORDER BY doc_id""".stripMargin

  private val ChunkStartsCte =
    """st AS (SELECT doc_id, t,
      |  unnest(CASE WHEN len(t) > 0 THEN range(0, len(t), 24) ELSE [] END) s
      |  FROM toks)""".stripMargin

  private lazy val MinhashPairCtes: String =
    s"""$Toks,
       |${bandKeysCtes(TokenElems, 16)},
       |${capCte("banded0", "banded", Seq("band", "band_key"))},
       |${bandPairsCte("cand", "banded", "banded")},
       |$TokenSetsCte,
       |j AS (SELECT a, b, ${verifyJacc("cand", "dt")})""".stripMargin

  val all: Map[String, String] = Map(
    // ── relational core ────────────────────────────────────────────────
    "q1_lineitem_agg" ->
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         |CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         |CAST(sum($Cents4) AS BIGINT) AS sum_disc_c4,
         |count(*) AS count_order
         |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q3_top_orders" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
         |CAST(sum($Cents4) AS BIGINT) AS revenue_c4
         |FROM customer JOIN orders ON c_custkey=o_custkey JOIN lineitem ON l_orderkey=o_orderkey
         |WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '${Queries.Cutoff}'
         |  AND l_shipdate > TIMESTAMP '${Queries.Cutoff}'
         |GROUP BY 1,2,3 ORDER BY revenue_c4 DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      s"""SELECT n_name, CAST(sum($Cents4) AS BIGINT) AS revenue_c4
         |FROM region JOIN nation ON r_regionkey=n_regionkey
         |  JOIN customer ON n_nationkey=c_nationkey
         |  JOIN orders ON c_custkey=o_custkey
         |  JOIN lineitem ON o_orderkey=l_orderkey
         |WHERE r_name='ASIA' GROUP BY 1 ORDER BY revenue_c4 DESC, n_name""".stripMargin,
    "events_hourly" ->
      """SELECT epoch_ns(ts)//3600000000000 AS hour_bucket, event_type,
        |count(*) AS n_events, round(sum(value),6) AS sum_value,
        |count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // merge twin: the DIRECT aggregate — partial-merge must equal it
    "hourly_merge" -> HourlyDirectSql,
    // the streaming rollup-maintenance twin merges per-batch partials;
    // decomposability means the oracle IS the same direct aggregate —
    // ONE shared value, so the twins can never gate against different SQL
    "stream_hourly_merge" -> HourlyDirectSql,
    // FK twin: NOT EXISTS per check (null child keys orphan, matching
    // the rows an inner join would drop)
    "fk_orphans" ->
      """SELECT 'lineitem_orders' AS fk,
        |  (SELECT count(*) FROM lineitem) n_child,
        |  (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NULL OR NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) n_orphans
        |UNION ALL
        |SELECT 'lineitem_orders_thinned',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NULL OR NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey % 7 <> 0
        |       AND o.o_orderkey = l.l_orderkey))
        |UNION ALL
        |SELECT 'orders_customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders r WHERE r.o_custkey IS NULL OR NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = r.o_custkey))
        |ORDER BY fk""".stripMargin,
    // supplier×brand twin: same cents grid, BIGINT casts
    "supplier_brand_volume" ->
      """SELECT n_name, p_brand, count(*) n_items,
        |CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) revenue_c,
        |count(DISTINCT l_partkey) n_parts
        |FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // Q18 twin: integral quantities and cents grid, top-100 total order
    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey, CAST(floor(sum(l_quantity)) AS BIGINT) sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) total_c, sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN big ON o_orderkey = l_orderkey
        |ORDER BY total_c DESC, o_orderkey LIMIT 100""".stripMargin,
    // exists/not-exists shapes: ONE SQL text, shared verbatim with the
    // Spark side (Queries.Q21Sql / Q22Sql) — zero translation surface
    "q21_waiting_supplier" -> Queries.Q21Sql,
    "q22_idle_customers" -> Queries.Q22Sql,
    "q_top_order_per_cust" -> Queries.QCorrScalarSql,
    // the streaming dedup emits exactly the distinct key set (see the
    // query's determinism note: only key columns are emitted)
    "stream_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "stream_windowed_counts" ->
      """SELECT make_timestamp((epoch_ns(ts)//3600000000000)*3600000000) AS window_start,
        |event_type, count(*) AS n_events, round(sum(value),6) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // two-phase streaming near-dup-ingest twin: phase 1 = min-id
    // survivor per verified component within the EVEN doc_ids (the
    // near_dup_survivors closure, parity-scoped); phase 2 = the same
    // within the odds, then the odd survivors that band-collide with a
    // phase-1 survivor AND verify at jacc>=0.9 drop (the engine's
    // persisted-index probe). Caps mirror the engine's domains: whole
    // batch for intra-phase candidates, phase-1 SURVIVORS for the index
    // side, probe side uncapped (incrementalNearDupPairs does not cap
    // the delta bands).
    "stream_near_dup_ingest" ->
      s"""WITH RECURSIVE $Toks,
         |${bandKeysCtes(TokenElems, 16)},
         |$TokenSetsCte,
         |${parityClosureCtes("e", 0)},
         |${parityClosureCtes("o", 1)},
         |ix0 AS (SELECT b0.* FROM banded0 b0 JOIN esurv s ON b0.doc_id = s.doc_id),
         |${capCte("ix0", "ixb", Seq("band", "band_key"))},
         |qb AS (SELECT b0.* FROM banded0 b0 JOIN osurv s ON b0.doc_id = s.doc_id),
         |${bandPairsCte("xcand", "qb", "ixb", "q", "x")},
         |xdrop AS (SELECT DISTINCT a FROM (SELECT a, ${verifyJacc("xcand", "dt")})
         |  WHERE jacc>=0.9)
         |SELECT doc_id, CAST(doc_id % 2 AS BIGINT) ingest_batch FROM (
         |  SELECT doc_id FROM esurv
         |  UNION ALL
         |  SELECT doc_id FROM osurv o
         |  WHERE NOT EXISTS (SELECT 1 FROM xdrop WHERE a = o.doc_id))
         |ORDER BY doc_id""".stripMargin,
    // two-phase streaming SCD2 twin: phase value = per-key max
    // event_type over the even/odd event_id half (the stream's
    // within-batch max-attr-tuple rule on a 1-attr tuple); a key whose
    // phase values differ carries its CLOSED phase-1 row + the open
    // phase-2 row; otherwise one open row (phase-2 value if present,
    // else the untouched phase-1 state). IS DISTINCT FROM, not <>:
    // scd2Stream closes on NULL-SAFE difference (<=>), and a plain <>
    // would silently drop the closed row if an attr were ever NULL
    // (unreachable on this fixture — event_type has no nulls — but the
    // twin must carry the operator's semantics, not the fixture's)
    "stream_scd2_merge" ->
      """WITH v1 AS (SELECT user_id, max(event_type) et FROM events
        |            WHERE event_id % 2 = 0 GROUP BY 1),
        |v2 AS (SELECT user_id, max(event_type) et FROM events
        |       WHERE event_id % 2 = 1 GROUP BY 1),
        |j AS (SELECT coalesce(v1.user_id, v2.user_id) user_id,
        |             v1.et e1, v2.et e2,
        |             v1.user_id IS NOT NULL h1, v2.user_id IS NOT NULL h2
        |      FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id)
        |SELECT user_id, event_type, is_open FROM (
        |  SELECT user_id, e1 event_type, FALSE is_open FROM j
        |  WHERE h1 AND h2 AND e1 IS DISTINCT FROM e2
        |  UNION ALL
        |  SELECT user_id, CASE WHEN h2 THEN e2 ELSE e1 END, TRUE FROM j)
        |ORDER BY user_id, event_type""".stripMargin,
    "events_sessions" ->
      """WITH x AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev FROM events)
        |SELECT user_id,
        |CAST(sum(CASE WHEN prev IS NULL OR epoch_ns(ts)-epoch_ns(prev) > 1800000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |count(*) AS n_events FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_asof_attrib" -> AsofSql,
    // the streaming foreachBatch composition must reproduce the batch
    // as-of EXACTLY (micro-batching-invariant per-left-row semantics)
    "stream_asof_enrich" -> AsofSql,
    // stream_running_totals twin: the transformWithState run's final
    // per-user state (max-count emission) IS the batch aggregate —
    // count/sum over all events per user (round-6 sum, the
    // stream_windowed_counts precedent)
    "stream_running_totals" ->
      """SELECT user_id, count(*) AS n_events,
        |round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // outer twin: the same join with the unmatched-purchase rows
    // null-padded — the streaming side's watermark-driven outer
    // emission (sentinel-advanced) lands on the plain LEFT JOIN; the
    // view_id coalesce keys the tie order for null rows on both engines
    "stream_stream_join_outer" -> streamJoinSql(outer = true),
    // stream_stream_join twin: the watermarked two-stream inner join's
    // pair set is micro-batching-invariant, so a plain SQL join over
    // the same events replays the streaming run exactly. Micros grid on
    // both engines (ts div 1000 ↔ epoch_ns//1000); BETWEEN gives the
    // same closed [p − 1 h, p] bound as the streaming condition.
    "stream_stream_join" -> streamJoinSql(outer = false),
    // the bucketed form is semantics-identical by contract — it must
    // reproduce the SAME oracle rows as the plain form
    "events_asof_bucketed" -> AsofSql,
    "events_funnel" -> funnelSql(None),
    // windowed twin: identical chain with each step's min constrained to
    // [t_{k-1}, t_{k-1} + W] — the window constant comes from Queries so
    // both sides can never drift
    "funnel_windowed" -> funnelSql(Some(graft.Queries.FunnelWindowNs)),
    "events_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id u, epoch_ns(ts)//86400000000000 d FROM events),
        |f AS (SELECT u, min(d) cd FROM ud GROUP BY 1)
        |SELECT cd AS cohort_day, d-cd AS day_offset,
        |  CAST(count(DISTINCT u) AS BIGINT) n_users
        |FROM ud JOIN f USING(u) WHERE d-cd <= 30
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "hot_keys" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) n FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) tot FROM events)
        |SELECT user_id, n, floor(CAST(n AS DOUBLE)/tot*1e6)/1e6 AS "share"
        |FROM c CROSS JOIN t ORDER BY n DESC, user_id LIMIT 10""".stripMargin,
    // session-assignment twin: same lag-gap flag + running sum, same
    // (ts, event_id) total order inside each user partition
    "session_assign" ->
      """WITH x AS (SELECT event_id, user_id, epoch_ns(ts) t,
        |  lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) prev
        |  FROM events)
        |SELECT event_id, user_id, t AS ts_ns,
        |  CAST(sum(CASE WHEN prev IS NULL OR t - prev > 1800000000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) session_seq
        |FROM x ORDER BY event_id""".stripMargin,
    // nearest-rank percentile twin: identical integer rank formula; the
    // value at sorted position r is well-defined even under duplicate
    // values, so row_number tie assignment cannot diverge the output
    "percentile_bands" ->
      """WITH x AS (SELECT lang, n_chars v,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) rn,
        |  CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) n
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT lang,
        |  CAST(max(CASE WHEN rn=(50*n+99)//100 THEN v END) AS BIGINT) p50,
        |  CAST(max(CASE WHEN rn=(90*n+99)//100 THEN v END) AS BIGINT) p90,
        |  CAST(max(CASE WHEN rn=(99*n+99)//100 THEN v END) AS BIGINT) p99
        |FROM x GROUP BY lang ORDER BY lang""".stripMargin,
    // global-percentile twin: the naive global window the two-pass
    // prefix-count form must equal (same integer rank formula)
    "percentile_global" ->
      """WITH x AS (SELECT n_chars v,
        |  row_number() OVER (ORDER BY n_chars) rn,
        |  CAST(count(*) OVER () AS BIGINT) n
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT
        |  CAST(max(CASE WHEN rn=(50*n+99)//100 THEN v END) AS BIGINT) p50,
        |  CAST(max(CASE WHEN rn=(90*n+99)//100 THEN v END) AS BIGINT) p90,
        |  CAST(max(CASE WHEN rn=(99*n+99)//100 THEN v END) AS BIGINT) p99
        |FROM x""".stripMargin,
    // rollup twin: GROUP BY ROLLUP with the SQL-standard GROUPING
    // bitmask; display cols coalesced on BOTH sides so no null ships
    "rollup_counts" ->
      """SELECT coalesce(source, '(all)') source, coalesce(lang, '(all)') lang,
        |CAST(GROUPING(source, lang) AS INT) gid,
        |count(*) n, CAST(sum(n_chars) AS BIGINT) sum_v
        |FROM documents GROUP BY ROLLUP(source, lang)
        |ORDER BY gid, source, lang""".stripMargin,
    // histogram twin: identical all-integer bucket formula (operands
    // non-negative, so // and Spark div agree)
    "hist_chars" ->
      """WITH v AS (SELECT n_chars v FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT min(v) lo, max(v) hi FROM v)
        |SELECT ((v - lo) * 20) // (hi - lo + 1) AS bucket,
        |count(*) n, CAST(min(v) AS BIGINT) min_v, CAST(max(v) AS BIGINT) max_v
        |FROM v, b GROUP BY 1 ORDER BY bucket""".stripMargin,
    // session-duration histogram twin: the events_sessions lag/sum CTE
    // extended to per-session spans, then the identical integer bucket
    // formula (one sessionization definition, one histogram definition)
    "session_length_hist" ->
      """WITH x AS (SELECT user_id, event_id, epoch_ns(ts) tsn,
        |  lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev
        |  FROM events),
        |y AS (SELECT user_id, tsn,
        |  sum(CASE WHEN prev IS NULL OR tsn-prev > 1800000000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |          ROWS UNBOUNDED PRECEDING) seq FROM x),
        |d AS (SELECT user_id, seq, (max(tsn)-min(tsn))//1000000000 v
        |  FROM y GROUP BY 1,2),
        |b AS (SELECT min(v) lo, max(v) hi FROM d)
        |SELECT ((v-lo)*20)//(hi-lo+1) AS bucket, count(*) n,
        |CAST(min(v) AS BIGINT) min_v, CAST(max(v) AS BIGINT) max_v
        |FROM d, b GROUP BY 1 ORDER BY bucket""".stripMargin,
    // KL twin: identical grids — micro-floored ln terms over the same
    // IEEE ratio, HUGEINT weighted sum, floored normalization
    "source_kl" ->
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) n_gc
        |  FROM documents GROUP BY 1,2),
        |g AS (SELECT source, CAST(sum(n_gc) AS BIGINT) n_g FROM c GROUP BY 1),
        |l AS (SELECT lang, CAST(sum(n_gc) AS BIGINT) n_c FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n_gc) AS BIGINT) n FROM c),
        |w AS (SELECT c.source, sum(CAST(n_gc AS HUGEINT) *
        |    CAST(floor(ln((CAST(n_gc AS DOUBLE) * n)
        |      / (CAST(n_g AS DOUBLE) * n_c)) * 1e6) AS BIGINT)) sw
        |  FROM c JOIN g USING(source) JOIN l USING(lang) CROSS JOIN t
        |  GROUP BY 1)
        |SELECT w.source, g.n_g AS n_docs,
        |  CAST(floor(CAST(sw AS DOUBLE) / n_g) AS BIGINT) kl6
        |FROM w JOIN g USING(source) ORDER BY source""".stripMargin,
    // winsorize twin: the naive global-window nearest-rank [p1,p99]
    // (same integer rank formula as percentile_global) + CASE clip
    "clip_outliers" ->
      """WITH x AS (SELECT n_chars v, row_number() OVER (ORDER BY n_chars) rn,
        |  CAST(count(*) OVER () AS BIGINT) n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |p AS (SELECT
        |  CAST(max(CASE WHEN rn=(1*n+99)//100 THEN v END) AS BIGINT) p1,
        |  CAST(max(CASE WHEN rn=(99*n+99)//100 THEN v END) AS BIGINT) p99
        |  FROM x)
        |SELECT doc_id, n_chars,
        |  least(greatest(n_chars, p1), p99) AS clipped,
        |  (n_chars < p1 OR n_chars > p99) AS is_clipped
        |FROM documents, p ORDER BY doc_id""".stripMargin,
    // per-source cap twin: the same seeded-md5 rank order (string
    // hex ordering is engine-identical — the md5-grid doctrine)
    "source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(concat('42:', CAST(doc_id AS VARCHAR))), doc_id) rn
        |  FROM documents) WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    // top-k twin: the plain window form the bounded-heap pass must equal
    "topk_per_group" ->
      """SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) rn
        |  FROM documents WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL)
        |WHERE rn <= 3 ORDER BY doc_id""".stripMargin,
    // salted-join twin: the plain inner join the salted form must
    // reproduce row-for-row (salt is an internal spreading detail)
    "salted_join" ->
      """SELECT l_orderkey, CAST(round(l_extendedprice*100) AS BIGINT) price_c, o_custkey
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_quantity >= 49 ORDER BY 1, 2, 3""".stripMargin,
    // heavy-hitters twin: the sketch pass is exact by the Misra-Gries
    // superset guarantee, so the oracle is the plain GROUP BY + integer
    // threshold (n·m > total — no division on either engine)
    "heavy_hitters" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) tot FROM documents)
        |SELECT lang, n FROM c CROSS JOIN t WHERE n*7 > tot
        |ORDER BY n DESC, lang""".stripMargin,
    // rolling twin: same hourly grain, same RANGE frame on the integer
    // hour bucket; floor-average of non-negative longs (`//` ≡ `div`)
    "events_rolling" ->
      """WITH h AS (SELECT epoch_ns(ts)//3600000000000 hour_bucket, event_type,
        |  CAST(count(*) AS BIGINT) n_events FROM events GROUP BY 1,2)
        |SELECT hour_bucket, event_type, n_events,
        |  CAST(sum(n_events) OVER w AS BIGINT) win_n,
        |  CAST(count(*) OVER w AS BIGINT) win_hours,
        |  CAST(sum(n_events) OVER w AS BIGINT) // CAST(count(*) OVER w AS BIGINT) AS avg_n
        |FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
        |  RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
        |ORDER BY hour_bucket, event_type""".stripMargin,
    // interval-join twin: the declarative range predicate the bucketed
    // decomposition must reproduce pair-for-pair (inclusive both ends)
    "events_interval_join" ->
      """WITH ev AS (SELECT event_id, event_type, epoch_ns(ts) t FROM events),
        |iv AS (SELECT event_type iv_type, min(t) s FROM ev GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.t AS ts_ns, iv.iv_type
        |FROM ev e JOIN iv ON e.t >= iv.s AND e.t <= iv.s + 21600000000000
        |ORDER BY event_id, iv_type""".stripMargin,
    "column_profile" ->
      """SELECT 'doc_id' AS "column", CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null, CAST(count(DISTINCT doc_id) AS BIGINT) n_distinct FROM documents
        |UNION ALL SELECT 'lang', CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT), CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |UNION ALL SELECT 'n_chars', CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT), CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents
        |UNION ALL SELECT 'source', CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT), CAST(count(DISTINCT source) AS BIGINT) FROM documents
        |UNION ALL SELECT 'text', CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT), CAST(count(DISTINCT text) AS BIGINT) FROM documents
        |ORDER BY "column"""".stripMargin,
    // anomaly twin: identical integer moments (n, Σx, Σx²) and the same
    // division/sqrt order as Events.hourlyAnomalies — bit-equal doubles
    "events_anomaly" ->
      """WITH h AS (SELECT epoch_ns(ts)//3600000000000 hour_bucket, event_type,
        |           CAST(count(*) AS BIGINT) n_events FROM events GROUP BY 1,2),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) cnt,
        |      CAST(sum(n_events) AS BIGINT) s1,
        |      CAST(sum(n_events*n_events) AS BIGINT) s2 FROM h GROUP BY 1),
        |m AS (SELECT hour_bucket, h.event_type, n_events, cnt,
        |      CAST(s1 AS DOUBLE)/cnt mu,
        |      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*s1/cnt)/(cnt-1) varr
        |      FROM h JOIN s USING(event_type)),
        |z AS (SELECT hour_bucket, event_type, n_events,
        |      CASE WHEN cnt>1 AND varr>0
        |        THEN round((CAST(n_events AS DOUBLE)-mu)/sqrt(varr),6) END z
        |      FROM m)
        |SELECT hour_bucket, event_type, n_events, z,
        |  coalesce(abs(z)>=3.0, false) is_anomaly
        |FROM z ORDER BY hour_bucket, event_type""".stripMargin,
    "keep_best_doc" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) rn
        |  FROM documents) WHERE rn=1 ORDER BY doc_id""".stripMargin,
    "incremental_changed" ->
      s"""WITH $SnapshotCtes
         |SELECT f.doc_id, f.checksum FROM fresh f
         |WHERE NOT EXISTS (SELECT 1 FROM prev p WHERE p.doc_id=f.doc_id AND p.checksum=f.checksum)
         |ORDER BY doc_id""".stripMargin,
    "incremental_upsert" ->
      s"""WITH $SnapshotCtes,
         |changed AS (SELECT f.doc_id, f.checksum FROM fresh f
         |  WHERE NOT EXISTS (SELECT 1 FROM prev p WHERE p.doc_id=f.doc_id AND p.checksum=f.checksum))
         |SELECT doc_id, checksum FROM (
         |  SELECT p.doc_id, p.checksum FROM prev p
         |  WHERE NOT EXISTS (SELECT 1 FROM changed c WHERE c.doc_id=p.doc_id)
         |  UNION ALL SELECT doc_id, checksum FROM changed)
         |ORDER BY doc_id""".stripMargin,
    // SCD2 twin: the merge semantics spelled out as a union — changed
    // keys (%6==0: the _v2 suffix always differs) close at 100 and
    // reopen; every other key (incl. touched-but-unchanged %3 odds)
    // keeps its single open row
    "scd2_merge" ->
      """SELECT doc_id, source, lang,
        |  CAST(0 AS BIGINT) valid_from, CAST(100 AS BIGINT) valid_to
        |FROM documents WHERE doc_id % 6 = 0
        |UNION ALL
        |SELECT doc_id, source || '_v2', lang, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 6 = 0
        |UNION ALL
        |SELECT doc_id, source, lang, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 6 <> 0
        |ORDER BY doc_id, valid_from""".stripMargin,
    // time-travel twin: at t=50 the snapshot IS the original table; at
    // t=150 the %6 keys show their _v2 attrs — spelled as two selects
    "scd2_asof" ->
      """SELECT doc_id, source, CAST(50 AS BIGINT) t FROM documents
        |UNION ALL
        |SELECT doc_id,
        |  CASE WHEN doc_id % 6 = 0 THEN source || '_v2' ELSE source END,
        |  CAST(150 AS BIGINT)
        |FROM documents
        |ORDER BY t, doc_id""".stripMargin,
    // bloom twin: the prefilter is exact by the filter's no-false-
    // negative guarantee + the anti-join confirm, so the oracle is the
    // plain NOT EXISTS the operator must reproduce row-for-row
    "bloom_seen_filter" ->
      """WITH seen AS (SELECT doc_id FROM documents WHERE doc_id%3=0)
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.doc_id=d.doc_id)
        |ORDER BY doc_id""".stripMargin,

    // ── lexical index + BM25 ───────────────────────────────────────────
    "postings" ->
      s"WITH $Toks, $Posting SELECT doc_id, dl, term, tf FROM p ORDER BY doc_id, term",
    "dictionary" ->
      s"WITH $Toks, $Posting, $Dict SELECT term, df, cf FROM d ORDER BY term",
    "corpus_stats" ->
      s"WITH $Toks, $Posting, $Stats SELECT n_docs, sum_dl FROM st",
    "bm25_topk" ->
      s"""WITH ${bm25Cte(Queries.Bm25Terms)}
         |SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // ── dedup suite ────────────────────────────────────────────────────
    "dedup_exact" ->
      """SELECT md5(text) AS content_key, min(doc_id) AS survivor,
        |CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_exact_norm" ->
      """SELECT md5(lower(trim(regexp_replace(text,'\s+',' ','g')))) AS content_key,
        |min(doc_id) AS survivor, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "minhash_sigs" ->
      s"""WITH $Toks,
         |elems AS ($TokenElems),
         |${minhashSigsCte(16)}
         |SELECT doc_id, seed, minh FROM sigs ORDER BY doc_id, seed""".stripMargin,
    "minhash_lsh_pairs" ->
      s"""WITH $MinhashPairCtes
         |SELECT a, b, jacc FROM j WHERE jacc>=0.9 ORDER BY a, b""".stripMargin,
    // decontamination twin: distinct 3-gram shingles on both split
    // sides, equi-join on the shingle, count per (doc, bench) pair
    "contamination_pairs" ->
      s"""WITH $Toks,
         |$ShingleSets3,
         |ex AS (SELECT doc_id, unnest(s) sh FROM sh),
         |c AS (SELECT doc_id, sh FROM ex WHERE doc_id % 50 <> 0),
         |b AS (SELECT doc_id bench_id, sh FROM ex WHERE doc_id % 50 = 0)
         |SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) n_shared
         |FROM c JOIN b USING(sh) GROUP BY 1,2 HAVING count(*) >= 2
         |ORDER BY doc_id, bench_id""".stripMargin,
    // incremental twin: same tokenize/sig/band CTEs; the delta's bands
    // probe the existing corpus's (capped) bands instead of self-joining
    "incremental_near_dup" ->
      s"""WITH $Toks,
         |${bandKeysCtes(TokenElems, 16)},
         |ex0 AS (SELECT * FROM banded0 WHERE doc_id % 10 <> 0),
         |${capCte("ex0", "exb", Seq("band", "band_key"))},
         |db AS (SELECT * FROM banded0 WHERE doc_id % 10 = 0),
         |${bandPairsCte("cand", "db", "exb", "d", "x")},
         |$TokenSetsCte,
         |j AS (SELECT a, b, ${verifyJacc("cand", "dt")})
         |SELECT a, b, jacc FROM j WHERE jacc>=0.9 ORDER BY a, b""".stripMargin,
    // pairs→groups twin: min-label closure as a recursive CTE — reach
    // enumerates (node, reachable label); min per node IS the unique
    // propagation fixpoint the Spark operator converges to
    "near_dup_groups" ->
      s"""WITH RECURSIVE $MinhashPairCtes,
         |pairs AS (SELECT a, b FROM j WHERE jacc>=0.9),
         |${componentsCtes("", "pairs", withComp = false)}
         |SELECT node AS doc_id, min(label) AS component
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    // survivors twin: corpus minus every node whose component label is
    // not itself (exactly one survivor — the min id — per group)
    "near_dup_survivors" ->
      s"""WITH RECURSIVE $MinhashPairCtes,
         |pairs AS (SELECT a, b FROM j WHERE jacc>=0.9),
         |${componentsCtes("", "pairs")}
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
         |ORDER BY doc_id""".stripMargin,
    "ngram_jaccard_pairs" ->
      s"""WITH $Toks,
         |$ShingleSets3,
         |${bandKeysCtes("SELECT doc_id, unnest(s) elem FROM sh", 4)},
         |${capCte("banded0", "banded", Seq("band", "band_key"))},
         |${bandPairsCte("cand", "banded", "banded")},
         |sized AS (SELECT doc_id, s, len(s) n FROM sh),
         |j AS (SELECT a, b, ${verifyJacc("cand", "sized")})
         |SELECT a, b, jacc FROM j WHERE jacc>=0.1 ORDER BY a, b""".stripMargin,
    "simhash" ->
      s"""WITH $SimhashCtes
         |SELECT doc_id, $SimhashCol
         |FROM s GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "simhash_pairs" ->
      s"""WITH $SimhashCtes,
         |sim AS (SELECT doc_id, $SimhashCol
         |        FROM s GROUP BY 1),
         |ex0 AS (SELECT doc_id, simhash, band, (simhash >> CAST(band*8 AS INT)) & 255 bkey
         |       FROM sim CROSS JOIN (SELECT unnest(range(0,4)) band)),
         |${capCte("ex0", "ex", Seq("band", "bkey"))},
         |cand AS (SELECT DISTINCT x.doc_id a, x.simhash ha, y.doc_id b, y.simhash hb
         |  FROM ex x JOIN ex y ON x.band=y.band AND x.bkey=y.bkey AND x.doc_id<y.doc_id)
         |SELECT a, b, CAST(bit_count(xor(ha,hb)) AS INT) hamming FROM cand
         |WHERE bit_count(xor(ha,hb)) <= 3 ORDER BY a, b""".stripMargin,

    // ── vector / similarity ────────────────────────────────────────────
    "cosine_topk" ->
      s"""WITH $EmbQ,
         |$ProbeQ
         |${exactTopKSql("e", "vec_id<>0")}""".stripMargin,
    "knn_join" ->
      s"""WITH $EmbQ,
         |pr AS (SELECT vec_id probe_id, qv pv FROM e WHERE vec_id<10),
         |sc AS (SELECT probe_id, vec_id nbr_id, ${cosQ("pv", "qv")} cos
         |       FROM e CROSS JOIN pr WHERE vec_id<>probe_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, nbr_id) rn FROM sc)
         |SELECT probe_id, nbr_id, cos, CAST(rn AS INT) rn FROM r WHERE rn<=5
         |ORDER BY probe_id, rn""".stripMargin,
    "knn_join_bucketed" ->
      s"""WITH $EmbQ,
         |k AS (SELECT vec_id, qv,
         |  ${bucketExpr("qv", Queries.Dim, 4, "b0")} k0,
         |  ${bucketExpr("qv", Queries.Dim, 4, "b1")} k1 FROM e),
         |ex0 AS (SELECT vec_id, qv, 0 band, k0 bkey FROM k
         |       UNION ALL SELECT vec_id, qv, 1, k1 FROM k),
         |pr AS (SELECT vec_id probe_id, qv pv, band, bkey FROM ex0 WHERE vec_id<10),
         |sc AS (SELECT probe_id, x.vec_id nbr_id, ${cosQ("pv", "x.qv")} cos
         |       FROM ex0 x JOIN pr ON x.band=pr.band AND x.bkey=pr.bkey
         |       AND x.vec_id<>pr.probe_id),
         |d AS (SELECT probe_id, nbr_id, max(cos) cos FROM sc GROUP BY 1,2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, nbr_id) rn FROM d)
         |SELECT probe_id, nbr_id, cos, CAST(rn AS INT) rn FROM r WHERE rn<=5
         |ORDER BY probe_id, rn""".stripMargin,
    "near_dup_pairs" ->
      s"""WITH $EmbQ,
         |k AS (SELECT vec_id id, qv,
         |  ${bucketExpr("qv", Queries.Dim, 8, "b0")} k0,
         |  ${bucketExpr("qv", Queries.Dim, 8, "b1")} k1 FROM e),
         |ex0 AS (SELECT id, 0 band, k0 bkey FROM k UNION ALL SELECT id, 1, k1 FROM k),
         |${capCte("ex0", "ex", Seq("band", "bkey"))},
         |cand AS (SELECT DISTINCT x.id a, y.id b FROM ex x JOIN ex y
         |  ON x.band=y.band AND x.bkey=y.bkey AND x.id<y.id),
         |v AS (SELECT a, b, ${cosQ("x.qv", "y.qv")} cos FROM cand
         |      JOIN k x ON x.id=a JOIN k y ON y.id=b)
         |SELECT a, b, cos FROM v WHERE cos>=0.3 ORDER BY a, b""".stripMargin,
    // default ANN (r15) = scale-aware spherical spill-IVF, WIDE probe
    // (max(4, 26K//128) of the K = pow2(round(log2(3·√N))) lists),
    // SQ8 code pre-rank over the surviving candidates, top-80 exact
    // rerank — the same emitter as r14's narrow default with the wide
    // schedule + the code-rank tail (sq8Ctes, shared with ann_sq8).
    // Training replay unchanged: 3 spherical Lloyd steps on the
    // truncated-integer-mean grid (HUGEINT sum `//` count — DuckDB
    // truncates toward zero, exactly Scala's Long division; assignment
    // ranks dot/|c|, one correctly-rounded sqrt+division of exact
    // integers, bit-identical cross-engine); boundary vectors within
    // cosine margin 0.03 of their second list are double-assigned.
    "ann_topk" -> ivfSpillOracle(iters = 3,
      probeMult = 26, probeFloor = 4, sq8Rerank = 80),
    // batched probe-join twin (Similarity.ivfProbeSpillJoin): the SAME
    // spill replay in batched mode — probes vec_id < 5, per-probe
    // schedule/dedup/rank partitioned by probe_id, top-10 each
    "ann_probe_join" -> ivfSpillOracle(iters = 3,
      batchPred = "vec_id < 5", batchK = 10),
    // composed batched twin (Similarity.ivfSq8ProbeJoin): the batched
    // replay at the default rung's wide schedule with the per-probe
    // code-rank cut (k·4 = 40) before the exact rescore
    "ann_probe_join_sq8" -> ivfSpillOracle(iters = 3,
      probeMult = 26, probeFloor = 4, sq8Rerank = 40,
      batchPred = "vec_id < 5", batchK = 10),
    // byte-narrow split twin (GraftIndexes.ivfSq8ProbeJoinSplit): the
    // two-phase persisted-layout probe is a PHYSICAL re-shape of
    // ann_probe_join_sq8 — identical training, schedule, code-rank
    // window, and exact rerank — so its oracle is the identical replay
    "ann_probe_join_split" -> ivfSpillOracle(iters = 3,
      probeMult = 26, probeFloor = 4, sq8Rerank = 40,
      batchPred = "vec_id < 5", batchK = 10),
    // incremental-append twin: train (K sizing + Lloyd) on the EVEN
    // half only, assign + probe over everything — fixed-centroid
    // assignment is lifecycle-invariant, so the SQL needs no notion of
    // "append", just a restricted training corpus
    "ivf_append_probe" -> ivfSpillOracle(iters = 1,
      trainPred = "vec_id % 2 = 0", fixedK = 64),
    // composed IVF+SQ8 twin: the spill replay with the code-rank tail
    "ann_ivf_sq8" -> ivfSpillOracle(iters = 3, sq8Rerank = 80),
    // PQ twin (Similarity.pqTopK): 8 subspaces × 16 sub-centroids,
    // 1 euclidean Lloyd step each, ADC rank, top-160 exact rerank
    "ann_pq" -> pqOracle(m = 8, ksub = 16, iters = 1, rerank = 8),
    // composed IVF×PQ twin (Similarity.ivfProbe, IvfCode.Pq): the spill replay at
    // the wide schedule with the PQ ADC tail over the candidates
    "ann_ivf_pq" -> ivfSpillOracle(iters = 3,
      probeMult = 26, probeFloor = 4, pqRerank = 8),
    // residual IVF×PQ (r17): same spill replay, residual-trained books,
    // per-list ADC reconstruction — see the rpqRerank branch
    "ann_ivf_rpq" -> ivfSpillOracle(iters = 3,
      probeMult = 26, probeFloor = 4, rpqRerank = 8),
    // persisted-layout probe of the SAME residual rung (r19): the
    // layout round-trip is engine plumbing — stored codes, identical
    // probe math — so the oracle is ann_ivf_rpq's replay verbatim
    "ann_rpq_probe_layout" -> ivfSpillOracle(iters = 3,
      probeMult = 26, probeFloor = 4, rpqRerank = 8),
    // SQ8 twin (Similarity.sq8TopK): per-vector int8 codes
    // round(qv·127/max|qv|) — exact products, one rounded division, the
    // shared away-from-zero half rule — approx rank by code cosine
    // (round 6, vec_id tie-break), top-80 exact-reranked
    "ann_sq8" ->
      s"""WITH $EmbQ,
         |$ProbeQ,
         |${sq8Ctes("e")},
         |cand AS (SELECT vec_id, qv FROM cd CROSS JOIN qc
         |  QUALIFY row_number() OVER (
         |    ORDER BY ${cosQ("c8", "q8")} DESC, vec_id) <= 80)
         |${exactTopKSql("cand")}""".stripMargin,
    // high-recall rung (r14): the SAME scale-aware spill replay with
    // the WIDE probe schedule (~20% of lists) — recall@20 0.91, the
    // HNSW-class tier the r13 grid-16/10 rung hit at a 62% scan,
    // reached scanning ~21% of rows
    "ann_ivf_wide" -> ivfSpillOracle(iters = 3,
      probeMult = 26, probeFloor = 4),
    // single-bucket scan-fraction floor twin
    "ann_bucket_floor" ->
      s"""WITH $EmbQ,
         |k AS (SELECT vec_id, qv, ${bucketExpr("qv", Queries.Dim, 4, "")} bucket FROM e),
         |q AS (SELECT qv qq, bucket qb FROM k WHERE vec_id=0)
         |${exactTopKSql("k", "bucket=qb")}""".stripMargin,
    // multi-table rung: 3 independent seeded hyperplane sets, OR of
    // single-bucket probes (the SQL mirror of the driver's per-table
    // literal buckets)
    "ann_ensemble" ->
      s"""WITH $EmbQ,
         |k AS (SELECT vec_id, qv,
         |  ${bucketExpr("qv", Queries.Dim, 4, "b0")} k0,
         |  ${bucketExpr("qv", Queries.Dim, 4, "b1")} k1,
         |  ${bucketExpr("qv", Queries.Dim, 4, "b2")} k2 FROM e),
         |q AS (SELECT qv qq, k0 q0, k1 q1, k2 q2 FROM k WHERE vec_id=0)
         |${exactTopKSql("k", "k0=q0 OR k1=q1 OR k2=q2")}""".stripMargin,
    // Hamming-≤2 rung of the same ladder
    "ann_multiprobe" ->
      s"""WITH $EmbQ,
         |k AS (SELECT vec_id, qv, ${bucketExpr("qv", Queries.Dim, 4, "")} bucket FROM e),
         |q AS (SELECT qv qq, bucket qb FROM k WHERE vec_id=0)
         |${exactTopKSql("k", "bit_count(xor(bucket, qb)) <= 2")}""".stripMargin,
    "ivf_topk" ->
      s"""WITH $EmbQ,
         |$SeedIvfCtes,
         |$ProbeQ,
         |probe AS (SELECT c.i FROM c CROSS JOIN q
         |          ORDER BY list_dot_product(qq, c.cqv) DESC, c.i LIMIT 4)
         |${exactTopKSql("asg", "centroid IN (SELECT i FROM probe)")}""".stripMargin,
    // cluster-cohesion twin: identical integer-relational arithmetic —
    // long per-dim sums, HUGEINT dot/|S|² (a double fold would be
    // summation-order-unstable past 2^53), floor-micro cosines, floored
    // mean of the exact micro sum
    "cluster_stats" ->
      s"""WITH $CentroidCtes
         |SELECT CAST(label AS INT) AS label, count(*) n,
         |  CAST(floor(CAST(sum(cos6) AS DOUBLE) / count(*)) AS BIGINT) mean_cos6
         |FROM cc GROUP BY 1 ORDER BY label""".stripMargin,
    // duplicated-span twin: same 1-based start/cover arithmetic as the
    // strip oracle, df>=2 gram set met in a JOIN (a membership list
    // would be corpus-vocabulary-scale), integer-grid fraction
    "dup_span_stats" ->
      s"""WITH $Toks,
         |g AS (SELECT doc_id,
         |  unnest(${shinglesSql(5)}) g,
         |  unnest(${shingleStarts(5)}) j
         |  FROM toks),
         |dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) df FROM g
         |  GROUP BY 1) WHERE df >= 2),
         |cov AS (SELECT DISTINCT doc_id, j + k i
         |  FROM g JOIN dup USING(g), (SELECT unnest(range(0, 5)) k)),
         |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_dup FROM cov GROUP BY 1)
         |SELECT t.doc_id, CAST(coalesce(len(t.t), 0) AS BIGINT) n_tokens,
         |  coalesce(c.n_dup, 0) n_dup_tokens,
         |  CASE WHEN coalesce(len(t.t), 0) > 0
         |    THEN (coalesce(c.n_dup, 0) * 1000000) // len(t.t)
         |    ELSE CAST(0 AS BIGINT) END dup_frac6
         |FROM toks t LEFT JOIN c USING(doc_id) ORDER BY doc_id""".stripMargin,
    // SemDeDup survivors twin: the same seed-centroid assignment CTE as
    // ivf_topk; a vector survives iff no lower-id same-cluster vector
    // sits at cosine >= tau
    "semantic_dedup" ->
      s"""WITH $EmbQ,
         |$SeedIvfCtes,
         |dups AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
         |  ON a.centroid=b.centroid AND a.vec_id < b.vec_id
         |  WHERE ${cosQ("a.qv", "b.qv")} >= 0.3)
         |SELECT vec_id, CAST(centroid AS INT) centroid FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM dups) ORDER BY vec_id""".stripMargin,
    "hash_embed" ->
      s"""WITH $Toks,
         |t2 AS (SELECT doc_id, unnest(t) tok FROM toks),
         |h AS (SELECT doc_id, ${h31("tok")} hv FROM t2)
         |SELECT doc_id, hv % ${Queries.Dim} AS bucket,
         |sum(CASE WHEN (hv // ${Queries.Dim}) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
         |FROM h GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // ── text analysis ──────────────────────────────────────────────────
    // unigram-LM perplexity twin: same quantized-grid log-prob sum
    "lm_perplexity" ->
      s"""WITH $Toks, $Posting,
         |d AS (SELECT term, CAST(sum(tf) AS BIGINT) cf FROM p GROUP BY 1),
         |tot AS (SELECT CAST(sum(cf) AS BIGINT) tt, CAST(count(*) AS BIGINT) vv FROM d),
         |w AS (SELECT doc_id, dl, sum(tf * floor(ln((cf+1.0)/(tt+vv))*1e6)) sw
         |      FROM p JOIN d USING(term) CROSS JOIN tot GROUP BY 1,2),
         |g AS (SELECT doc_id, dl, (0 - CAST(sw AS BIGINT)) // dl neg6 FROM w)
         |SELECT doc_id, CAST(dl AS BIGINT) n_tokens,
         |-(CAST(neg6 AS DOUBLE))/1e6 avg_logprob,
         |round(exp(CAST(neg6 AS DOUBLE)/1e6), 6) ppl
         |FROM g ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH $Toks
         |SELECT doc_id,
         |CAST(length(text) AS BIGINT) n_chars,
         |CAST(len(t) AS BIGINT) n_tokens,
         |CAST($NUniq AS BIGINT) n_uniq,
         |$QualityRatios
         |FROM documents JOIN toks USING(doc_id) ORDER BY doc_id""".stripMargin,
    // budget-select twin: the naive global ordered cumsum IS the spec
    // (same q_score grid as quality_top_decile; inclusive fit)
    "budget_select" ->
      s"""WITH $Toks,
         |q AS (SELECT doc_id, CAST(len(t) AS BIGINT) n_tok, round(
         |$QScoreSum, 6) qs
         |  FROM toks),
         |c AS (SELECT doc_id, qs, coalesce(n_tok, 0) n_tok,
         |  sum(coalesce(n_tok, 0)) OVER (ORDER BY qs DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum FROM q)
         |SELECT doc_id, qs AS q_score, n_tok, CAST(cum AS BIGINT) cum_tok
         |FROM c WHERE cum <= 5000 ORDER BY doc_id""".stripMargin,
    // curriculum twin: floor of the UNROUNDED composite (no round-half
    // anywhere — the half boundary diverges cross-engine, caught at
    // sf0.1), the histogram bucket formula as strata, the md5 order as
    // the intra-stratum shuffle
    "curriculum_order" ->
      s"""WITH $Toks,
         |q AS (SELECT doc_id, CAST(floor((
         |$QScoreSum)
         |  * 1e6) AS BIGINT) q6 FROM toks),
         |b AS (SELECT min(q6) lo, max(q6) hi FROM q),
         |s AS (SELECT doc_id, q6, ((q6-lo)*10)//(hi-lo+1) stratum FROM q, b)
         |SELECT doc_id, q6, stratum,
         |  row_number() OVER (PARTITION BY stratum
         |    ORDER BY md5(concat('cur:', CAST(doc_id AS VARCHAR))), doc_id) pos
         |FROM s ORDER BY doc_id""".stripMargin,
    // chunking twin: window starts range(0, n, stride), 1-based
    // inclusive slice t[s+1 : s+32], short tail kept — the same
    // integer grammar as Shards.chunkDocs
    "chunk_docs" ->
      s"""WITH $Toks,
         |$ChunkStartsCte
         |SELECT doc_id, CAST(s // 24 AS INT) chunk_idx,
         |  array_to_string(t[s+1 : s+32], ' ') text_chunk,
         |  CAST(least(32, len(t) - s) AS BIGINT) n_tokens
         |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    // chunk-retrieval twin: the chunk grammar feeding the hash-embed
    // formula, dot products computed SPARSELY (bucket equi-join — the
    // oracle never builds a dense vector); ±1 bucket sums and their
    // products are exact integers in doubles, norms are one
    // correctly-rounded sqrt each, so the round-6 cosine is
    // bit-identical. Zero-norm chunks excluded on both engines.
    "chunk_topk" ->
      s"""WITH $Toks,
         |$ChunkStartsCte,
         |t2 AS (SELECT doc_id, CAST(s // 24 AS INT) chunk_idx, unnest(t[s+1 : s+32]) tok
         |  FROM st),
         |sp AS (SELECT doc_id, chunk_idx, ${h31("tok")} % ${Queries.Dim} b,
         |  sum(CASE WHEN (${h31("tok")} // ${Queries.Dim}) % 2 = 0
         |      THEN 1.0 ELSE -1.0 END) v
         |  FROM t2 GROUP BY 1, 2, 3),
         |nn AS (SELECT doc_id, chunk_idx, sqrt(sum(v*v)) n FROM sp
         |  GROUP BY 1, 2 HAVING sum(v*v) > 0),
         |q AS (SELECT b, v qv FROM sp WHERE doc_id = 0 AND chunk_idx = 0),
         |nq AS (SELECT sqrt(sum(qv*qv)) n FROM q),
         |dt AS (SELECT s.doc_id, s.chunk_idx, sum(s.v * q.qv) d
         |  FROM sp s JOIN q USING(b) GROUP BY 1, 2)
         |SELECT nn.doc_id, nn.chunk_idx,
         |  round(coalesce(dt.d, 0) / (nn.n * (SELECT n FROM nq)), 6) cos
         |FROM nn LEFT JOIN dt USING(doc_id, chunk_idx)
         |ORDER BY cos DESC, nn.doc_id, nn.chunk_idx LIMIT 20""".stripMargin,
    // shard-packing twin: the naive global ordered cumsum IS the spec —
    // the Spark side's two-pass prefix sum must equal it exactly
    "pack_shards" ->
      // coalesce mirrors the engine's null-token hardening (null text
      // contributes 0 tokens on both sides, never a NULL row)
      s"""WITH $Toks
         |SELECT doc_id, coalesce(CAST(len(t) AS BIGINT), 0) n_tok,
         |CAST(floor((sum(coalesce(len(t), 0)) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - coalesce(len(t), 0))/500.0) AS BIGINT) shard
         |FROM toks ORDER BY doc_id""".stripMargin,
    // subword-measure twin: identical global-cumsum spec, the cost per
    // word is 1 + (len-1)//4 (TextFns.subwordCount — ceil(len/4))
    "pack_shards_subword" ->
      s"""WITH $Toks,
         |sw AS (SELECT doc_id,
         |  coalesce(CAST(list_sum(list_transform(t, x -> 1 + (len(x)-1)//4)) AS BIGINT), 0) n_tok
         |  FROM toks)
         |SELECT doc_id, n_tok,
         |CAST(floor((sum(n_tok) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)/500.0) AS BIGINT) shard
         |FROM sw ORDER BY doc_id""".stripMargin,
    // shuffle twin: the NAIVE global row_number over the md5 order IS
    // the spec (ties broken by doc_id; md5 of the same string is
    // engine-identical)
    "shuffle_order" ->
      """SELECT doc_id, md5(concat('ep0:', CAST(doc_id AS VARCHAR))) shuffle_key,
        |CAST(ROW_NUMBER() OVER (ORDER BY md5(concat('ep0:', CAST(doc_id AS VARCHAR))), doc_id) - 1 AS BIGINT) pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    // tf-idf twin: same integer grid (cf_src · floor(ln(n_docs/df)·1e6)),
    // same (score DESC, term) total order per source
    "tfidf_top_terms" ->
      s"""WITH $Toks, $Posting,
         |ps AS (SELECT source, term, CAST(sum(tf) AS BIGINT) cf_src
         |  FROM p JOIN documents USING(doc_id) GROUP BY 1,2),
         |d AS (SELECT term, CAST(count(*) AS BIGINT) df FROM p GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) n_docs FROM documents),
         |sc AS (SELECT source, term, cf_src,
         |  cf_src * CAST(floor(ln(CAST(n_docs AS DOUBLE)/df)*1e6) AS BIGINT) score
         |  FROM ps JOIN d USING(term) CROSS JOIN n),
         |r AS (SELECT source, term, cf_src, score,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY score DESC, term) AS INT) rank FROM sc)
         |SELECT source, rank, term, cf_src, score FROM r
         |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // PMI twin: lockstep-unnested adjacent pairs, the IDENTICAL IEEE
    // double expression fed to ln, floor onto the micro grid
    "pmi_bigrams" ->
      s"""WITH $Toks,
         |pr AS (SELECT unnest(CASE WHEN len(t)>=2 THEN t[1:len(t)-1] ELSE [] END) a,
         |       unnest(CASE WHEN len(t)>=2 THEN t[2:len(t)] ELSE [] END) b FROM toks),
         |u AS (SELECT term, CAST(count(*) AS BIGINT) c FROM
         |  (SELECT unnest(t) term FROM toks) GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) m_tok FROM u),
         |nb AS (SELECT CAST(count(*) AS BIGINT) n_big FROM pr),
         |big AS (SELECT a, b, CAST(count(*) AS BIGINT) c_ab FROM pr
         |  GROUP BY 1,2 HAVING count(*) >= 5)
         |SELECT a, b, c_ab,
         |  CAST(floor(ln((CAST(c_ab AS DOUBLE) * m_tok * m_tok)
         |    / (CAST(ua.c AS DOUBLE) * ub.c * n_big)) * 1e6) AS BIGINT) pmi6
         |FROM big JOIN u ua ON big.a=ua.term JOIN u ub ON big.b=ub.term
         |CROSS JOIN tot CROSS JOIN nb ORDER BY a, b""".stripMargin,
    // dominant-bigram repetition twin: same '_'-joined shingle grammar as
    // the contamination CTE; sub-n docs emit no row on either engine
    "repetition_stats" ->
      s"""WITH $Toks,
         |g AS (SELECT doc_id, unnest(${shinglesSql(2)}) g FROM toks),
         |c AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) c FROM g GROUP BY 1,2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) n_grams, CAST(max(c) AS BIGINT) top_count,
         |round(CAST(max(c) AS DOUBLE)/sum(c),6) top_frac
         |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "boilerplate_ngrams" ->
      s"""WITH $Toks,
         |$ShingleSets3,
         |el AS (SELECT doc_id, unnest(s) ngram FROM sh)
         |SELECT ngram, CAST(count(*) AS BIGINT) df FROM el
         |GROUP BY 1 HAVING count(*) >= 5 ORDER BY ngram""".stripMargin,
    // strip twin: re-mines the same boilerplate set, then rebuilds each
    // token stream minus the union of covered positions (start j covers
    // j..j+2 — identical position arithmetic, 1-based both engines)
    "strip_boilerplate" ->
      s"""WITH $Toks,
         |sh AS (SELECT doc_id, t, ${shinglesSql(3)} g FROM toks),
         |mined AS (SELECT ngram FROM (SELECT doc_id, unnest(list_distinct(g)) ngram FROM sh)
         |  GROUP BY 1 HAVING count(*) >= 5),
         |b AS (SELECT coalesce(list(ngram ORDER BY ngram), []) bl FROM mined),
         |st AS (SELECT doc_id, t,
         |  [j for j in range(1, len(t)-1) if list_contains(b.bl, ${shingleSql(3, "j")})] starts
         |  FROM sh, b),
         |cv AS (SELECT doc_id, t,
         |  list_distinct(flatten([range(j, j+3) for j in starts])) covered FROM st)
         |${stripRebuild("cv")}""".stripMargin,
    // top-decile twin: same rounded stats as text_quality, the same
    // composite signal, percent_rank over (lang; q_score, doc_id) — the
    // tie-break total order makes the kept set exact on both engines
    "quality_top_decile" ->
      s"""WITH $Toks,
         |q AS (SELECT doc_id,
         |$QualityRatios
         |FROM toks),
         |sc AS (SELECT doc_id, lang,
         |round(stop_ratio*0.5 + ttr*0.3 + least(mean_tok_len/10.0, 1.0)*0.2, 6) q_score
         |FROM q JOIN documents USING(doc_id)),
         |r AS (SELECT doc_id, lang, q_score,
         |percent_rank() OVER (PARTITION BY lang ORDER BY q_score, doc_id) pr FROM sc)
         |SELECT doc_id, lang, q_score, round(pr,6) AS pr
         |FROM r WHERE pr >= 0.9 ORDER BY doc_id""".stripMargin,
    // quality-filter cascade twin: same token stats as text_quality, the
    // same script counts as lang_id's r CTE, rules in the operator's
    // fixed order; concat_ws drops NULL branches on both engines
    "quality_filter" ->
      s"""WITH $Toks,
         |$QualityStatsCtes,
         |r AS (SELECT doc_id, n_tok, $QualityReasons
         |  FROM st JOIN sc USING(doc_id))
         |SELECT doc_id, n_tok AS n_tokens, reasons, reasons='' kept
         |FROM r ORDER BY doc_id""".stripMargin,
    // compaction roundtrip: the rewrite must preserve content exactly —
    // the oracle is simply the source of truth
    "parquet_compact_roundtrip" ->
      "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id",
    // zorder twin: the same unrolled Morton interleave — bit k of the
    // 16-bit-masked partkey to position 2k, suppkey to 2k+1 — as a
    // shift/mask comprehension; list_sum re-cast to BIGINT (DuckDB
    // widens list_sum(BIGINT) — the q22 doctrine)
    "zorder_key" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) l_linenumber,
        |  l_partkey, l_suppkey,
        |  CAST(list_sum([(((l_partkey & 65535) >> k) & 1) * (1::BIGINT << (2*k))
        |    + (((l_suppkey & 65535) >> k) & 1) * (1::BIGINT << (2*k+1))
        |    for k in range(0, 16)]) AS BIGINT) zkey
        |FROM lineitem WHERE l_orderkey <= 2000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // intra-doc strip twin: duplicate starts are the j whose 3-gram
    // already appears in the strict prefix g[1:j-1]; identical 1-based
    // position arithmetic as strip_boilerplate's covered-union
    "strip_repeats" ->
      s"""WITH $Toks,
         |sh AS (SELECT doc_id, t, ${shinglesSql(3)} g FROM toks),
         |st AS (SELECT doc_id, t,
         |  [j for j in range(1, len(g)+1) if list_contains(g[1:j-1], g[j])] dstarts
         |  FROM sh),
         |cv AS (SELECT doc_id, t,
         |  list_distinct(flatten([range(j, j+3) for j in dstarts])) covered FROM st)
         |${stripRebuild("cv")}""".stripMargin,
    // cross-dup strip twin: dup_span_stats' zipped-unnest occurrence
    // grammar (5-gram, 1-based j), canonical copy = min(doc_id) per
    // duplicated gram (min <> max ⟺ in ≥2 docs), coverage union via
    // list_distinct, and strip_repeats' rebuild comprehension
    "strip_cross_dups" ->
      s"""WITH $Toks,
         |sh AS (SELECT doc_id, t, ${shinglesSql(5)} g FROM toks),
         |oc AS (SELECT doc_id, unnest(g) gram,
         |  unnest(${shingleStarts(5)}) j
         |  FROM sh),
         |keep AS (SELECT gram, min(doc_id) keep_doc FROM oc GROUP BY 1
         |  HAVING min(doc_id) <> max(doc_id)),
         |cv AS (SELECT o.doc_id,
         |  list_distinct(flatten(list(range(o.j, o.j+5)))) covered
         |  FROM oc o JOIN keep k ON o.gram = k.gram AND o.doc_id <> k.keep_doc
         |  GROUP BY o.doc_id),
         |st AS (SELECT s.doc_id, s.t, coalesce(c.covered, []) covered
         |  FROM sh s LEFT JOIN cv c USING(doc_id))
         |${stripRebuild("st")}""".stripMargin,
    // overlap twin: same distinct-shingle grammar, df cap by DOCUMENT
    // count, source-pair self-join with string-order dedup
    "source_overlap" ->
      s"""WITH $Toks,
         |sh AS (SELECT doc_id, list_distinct(${shinglesSql(3)}) g FROM toks),
         |el AS (SELECT d.source, s.doc_id, unnest(s.g) sg
         |       FROM sh s JOIN documents d USING(doc_id)),
         |keep AS (SELECT sg FROM el GROUP BY 1
         |         HAVING count(DISTINCT doc_id) <= 100),
         |ss AS (SELECT DISTINCT source, sg FROM el JOIN keep USING(sg))
         |SELECT a.source source_a, b.source source_b,
         |  CAST(count(*) AS BIGINT) n_shared_shingles
         |FROM ss a JOIN ss b ON a.sg=b.sg AND a.source<b.source
         |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // rollup twin: per-doc q_score on the same rounded-stats grid as
    // quality_top_decile + the same cascade as quality_filter, then a
    // per-source aggregate whose mean rides the integer 1e-6 grid
    "source_quality_rollup" ->
      s"""WITH $Toks,
         |$QualityStatsCtes,
         |r AS (SELECT doc_id, $QualityReasons
         |  FROM st JOIN sc USING(doc_id)),
         |q AS (SELECT doc_id, round(
         |    (CASE WHEN n_tok>0 THEN round(sr,6) ELSE 0.0 END)*0.5
         |  + (CASE WHEN n_tok>0 THEN round(ttr,6) ELSE 0.0 END)*0.3
         |  + least((CASE WHEN n_tok>0 THEN round(mtl,6) ELSE 0.0 END)/10.0, 1.0)*0.2, 6) q_score
         |  FROM st),
         |d AS (SELECT source, CAST(round(q_score*1e6) AS BIGINT) q6,
         |      CASE WHEN reasons='' THEN 1 ELSE 0 END kept
         |      FROM documents JOIN r USING(doc_id) JOIN q USING(doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) n_docs,
         |  CAST(sum(kept) AS BIGINT) n_kept,
         |  floor(CAST(sum(kept) AS DOUBLE)/count(*)*1e6)/1e6 kept_frac,
         |  CAST(CAST(sum(q6) AS BIGINT)//count(*) AS DOUBLE)/1e6 mean_q,
         |  CAST(sum(kept) AS DOUBLE)/count(*) >= 0.5 keep_source
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "length_buckets" ->
      s"""WITH $Toks,
         |n AS (SELECT CAST(len(t) AS BIGINT) n_tokens FROM toks)
         |SELECT n_tokens//16 AS len_bucket, CAST(count(*) AS BIGINT) n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) sum_tokens,
         |  min(n_tokens) min_tokens, max(n_tokens) max_tokens
         |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "lang_id" ->
      s"""WITH $Toks, $LangIdCtes
         |SELECT doc_id, $LangIdCase lang_guess
         |FROM v JOIN r USING(doc_id) ORDER BY doc_id""".stripMargin,
    // confusion twin: the SAME lang-id CTEs joined back to the label —
    // one heuristic definition, two oracle consumers
    "lang_confusion" ->
      s"""WITH $Toks, $LangIdCtes,
         |lid AS (SELECT doc_id, $LangIdCase lang_guess
         |  FROM v JOIN r USING(doc_id))
         |SELECT d.lang, lid.lang_guess, count(*) n
         |FROM lid JOIN documents d USING(doc_id)
         |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // outlier twin: cluster_stats' per-member CTE chain, flag instead
    // of mean (one cosine definition, two reports)
    "embedding_outliers" ->
      s"""WITH $CentroidCtes
         |SELECT vec_id, CAST(label AS INT) AS label, cos6,
         |  cos6 < 0 AS is_outlier
         |FROM cc ORDER BY vec_id""".stripMargin,
    "token_counts" ->
      """SELECT doc_id,
        |CAST(len(list_filter(regexp_split_to_array(text,'\s+'), x -> len(x)>0)) AS BIGINT) n_ws,
        |CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) n_sub
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DOM-extraction round-trip twin: the engine wraps text in the junk
    // template and extracts; this side just normalizes the RAW column —
    // equality means nothing leaked and nothing was swallowed
    "html_text_extract" ->
      """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,
    // subword estimate twin: ceil(len/4) pieces per regex-class word
    "subword_counts" ->
      s"""WITH $Toks
         |SELECT doc_id,
         |coalesce(CAST(list_sum(list_transform(t, x -> 1 + (len(x)-1)//4)) AS BIGINT), 0) n_subword
         |FROM toks ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      s"""WITH $Toks
         |SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
         |  list_transform(t, x -> ${h31("x")})),
         |  (a,b) -> (a*31+b) % 1000000007) fp
         |FROM toks ORDER BY doc_id""".stripMargin,
    "doc_checksum" ->
      ("SELECT doc_id, sha256(doc_id::VARCHAR||'␟'||lang||'␟'||source||'␟'||text) AS checksum " +
        "FROM documents ORDER BY doc_id"),
    // sampling twins: the identical 60-bit md5 key (h60) Spark computes
    // via conv(substring(md5(...),1,15),16,10)
    "sample_hash" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${h60("doc_id::VARCHAR")} % 10 < 3 ORDER BY doc_id""".stripMargin,
    "sample_splits" ->
      s"""SELECT doc_id, CASE WHEN c < 80 THEN 'train' WHEN c < 90 THEN 'val'
         |  ELSE 'test' END split
         |FROM (SELECT doc_id, ${h60("doc_id::VARCHAR")} % 100 c FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "stratified_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${h60("doc_id::VARCHAR")}, doc_id) rk FROM documents)
         |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,
    // negative-sampling twin: the identical seeded md5 ring — bucket
    // assignment, k probe buckets per anchor, per-(anchor, probe)
    // md5-min candidate (cand tie-break)
    "negative_pairs" -> {
      val s = Queries.NegSeed; val nb = Queries.NegBuckets
      s"""WITH b AS (SELECT doc_id cand,
         |    ${h60(s"'$s:b:'||doc_id::VARCHAR")} % $nb bkt FROM documents),
         |p AS (SELECT d.doc_id anchor, j,
         |    ${h60(s"'$s:p:'||d.doc_id::VARCHAR||':'||j::VARCHAR")} % $nb pbkt
         |  FROM documents d, (SELECT unnest(range(${Queries.NegK})) j)),
         |c AS (SELECT anchor, j, cand,
         |    ${h60(s"'$s:r:'||anchor::VARCHAR||':'||cand::VARCHAR")} hr
         |  FROM p JOIN b ON pbkt = bkt WHERE cand <> anchor),
         |r AS (SELECT anchor, j, cand, row_number() OVER (
         |    PARTITION BY anchor, j ORDER BY hr, cand) rn FROM c)
         |SELECT anchor, CAST(j AS INT) j, cand AS negative FROM r
         |WHERE rn = 1 ORDER BY anchor, j""".stripMargin
    },
    // temperature twin: identical IEEE sequence — sqrt (correctly
    // rounded), one division, one multiply by the exact power 2^60,
    // floor → the same threshold longs as Sampling.sqrtTemperatureSample
    "mix_temperature" ->
      s"""WITH dd AS (SELECT * FROM documents
         |  WHERE source IN ('src0','src1','src2') OR doc_id % 4 = 0),
         |c AS (SELECT source, CAST(count(*) AS BIGINT) n FROM dd GROUP BY 1),
         |w AS (SELECT source, sqrt(CAST(n AS DOUBLE)) wt FROM c),
         |m AS (SELECT max(wt) wmax FROM w),
         |r AS (SELECT source, wt/wmax rate FROM w CROSS JOIN m)
         |SELECT doc_id, d.source, round(rate,6) keep_rate
         |FROM dd d JOIN r USING(source)
         |WHERE ${h60("doc_id::VARCHAR")} < CAST(floor(rate*1152921504606846976.0) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,
    // projection twin: the SAME ±1 literals (regenerated from the shared
    // md5 family) against the quantized grid — exact integer sums,
    // flattened to scalar columns p0..p7 (array cells crash the driver's
    // pandas sort; mirrors the Spark side's reshape)
    "random_project" -> {
      val cols = (0 until 8).map { j =>
        s"CAST(list_dot_product(qv, ${signsSql(Queries.Dim, j, "rp")}) AS BIGINT) AS p$j"
      }.mkString(", ")
      s"""WITH $EmbQ
         |SELECT vec_id, $cols FROM e ORDER BY vec_id""".stripMargin
    },
    "mix_sources" -> {
      val vals = graft.Queries.MixWeights.toSeq.sortBy(_._1)
        .map { case (s, w) => s"('$s',$w)" }.mkString(",")
      s"""SELECT doc_id, source, epoch FROM (
         |  SELECT d.doc_id, d.source, unnest(generate_series(1, w.wt)) epoch
         |  FROM documents d JOIN (VALUES $vals) w(source, wt) USING (source))
         |ORDER BY doc_id, epoch""".stripMargin
    },
    // PII twins: same injected text (PiiSql ≡ Queries.piiText), same
    // ordered patterns; RE2 and Java agree on these (char classes,
    // bounded reps, ASCII \b — no lookaround); 'g' flag matches Spark's
    // replace-all semantics
    "pii_stats" -> {
      val cols = graft.operators.TextAnalysis.PiiPatterns.map { case (n, p) =>
        s"CAST(len(regexp_extract_all(pt, '$p')) AS BIGINT) n_$n" }.mkString(", ")
      s"""SELECT doc_id, $cols
         |FROM (SELECT doc_id, $PiiSql pt FROM documents) ORDER BY doc_id""".stripMargin
    },
    "pii_redact" -> {
      val red = graft.operators.TextAnalysis.PiiPatterns.foldLeft("pt") {
        case (acc, (n, p)) => s"regexp_replace($acc, '$p', '<${n.toUpperCase}>', 'g')" }
      s"""SELECT doc_id, $red red
         |FROM (SELECT doc_id, $PiiSql pt FROM documents) ORDER BY doc_id""".stripMargin
    },
    "text_fns" -> textFnsSql,
    "serve_fns" -> serveFnsSql,
    "validate_battery" -> validateBatterySql,
    "manifest_battery" -> manifestBatterySql,
    // F16 weight-resolution twin (search.py:193-215): base preset per
    // mode, degraded-semantic zeroes the vector leg (fts weight 0 → 1),
    // both-zero falls back to pure vector
    "mode_weights" ->
      """WITH b(mode, ok) AS (VALUES
        |  ('hybrid', true), ('hybrid', false), ('semantic', true), ('semantic', false),
        |  ('fts', true), ('fts', false), ('balanced', true), ('balanced', false)),
        |w0 AS (SELECT mode, ok,
        |  CASE mode WHEN 'semantic' THEN CAST(1.0 AS DOUBLE)
        |            WHEN 'fts' THEN CAST(0.0 AS DOUBLE)
        |            ELSE CAST(0.6 AS DOUBLE) END wv,
        |  CASE mode WHEN 'semantic' THEN CAST(0.0 AS DOUBLE)
        |            WHEN 'fts' THEN CAST(1.0 AS DOUBLE)
        |            ELSE CAST(0.4 AS DOUBLE) END wf FROM b),
        |w1 AS (SELECT mode, ok,
        |  CASE WHEN NOT ok THEN CAST(0.0 AS DOUBLE) ELSE wv END wv2,
        |  CASE WHEN NOT ok THEN (CASE WHEN wf = 0.0 THEN CAST(1.0 AS DOUBLE) ELSE wf END)
        |       ELSE wf END wf2 FROM w0)
        |SELECT mode, ok semantic_ok,
        |  CASE WHEN wv2 = 0.0 AND wf2 = 0.0 THEN CAST(1.0 AS DOUBLE) ELSE wv2 END w_vector,
        |  CASE WHEN wv2 = 0.0 AND wf2 = 0.0 THEN CAST(0.0 AS DOUBLE) ELSE wf2 END w_fts
        |FROM w1 ORDER BY mode, semantic_ok""".stripMargin,

    // ── router / scoring / hybrid ──────────────────────────────────────
    "route_query" -> routeQuerySql,
    "priority_score" -> priorityScoreSql,
    "coverage_groups" -> coverageGroupsSql,
    "spec_score" -> specScoreSql,
    "hybrid_search" -> hybridSearchSql,
    "hadith_search" -> hadithSearchSql,
    "exact_ref_lookup" -> exactRefLookupSql,

    // ── multimodal (synthetic payload = UTF-8 bytes of ascii text, so
    //    byte histogram == codepoint histogram in the oracle) ───────────
    "multimodal_byte_histogram" ->
      """WITH ix AS (SELECT doc_id AS asset_id, text,
        |  unnest(range(1, length(text)+1)) i FROM documents)
        |SELECT asset_id, ascii(substring(text, CAST(i AS INT), 1)) % 64 AS bin,
        |CAST(count(*) AS DOUBLE) AS v
        |FROM ix GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // enrich twin (r14 — REAL codec round trips in every leg): image
    // dims are the synthPng fixture formulas; audio duration is
    // n_samples/8000 (one correctly-rounded division of exact
    // integers, identical on both engines); video dims/duration come
    // from the AVI header the demuxer reads back (8×6, nf frames at
    // 100000 µs/frame → nf·100000/1e6 s); frame schedule = all nf
    // frames (nf ≤ 8 = the sampling budget). n_features = 64 (real
    // codec payloads are never empty).
    "multimodal_enrich" ->
      """WITH m AS (SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END modality,
        |  doc_id FROM documents WHERE doc_id < 64)
        |SELECT asset_id, modality,
        |  CAST(CASE modality WHEN 'image' THEN 8 + doc_id % 9
        |       WHEN 'video' THEN 8 END AS INT) width,
        |  CAST(CASE modality WHEN 'image' THEN 8 + doc_id % 7
        |       WHEN 'video' THEN 6 END AS INT) height,
        |  CAST(CASE modality WHEN 'image' THEN 0.0
        |       WHEN 'audio' THEN (64 + doc_id % 17) / 8000.0
        |       ELSE ((3 + doc_id % 4) * 100000) / 1000000.0 END AS DOUBLE) duration_s,
        |  CAST(64 AS INT) n_features,
        |  CAST(CASE WHEN modality = 'video' THEN 3 + doc_id % 4
        |       ELSE 0 END AS INT) n_frames
        |FROM m ORDER BY asset_id""".stripMargin,

    // image_decode twin: replay the synthPng pixel formulas over an
    // (x, y) grid and sum the SAME BT.601 integer lumas — PNG is
    // lossless and decodeImage keeps the luma on the undivided integer
    // grid, so equality is exact. Outer sum re-cast to BIGINT (DuckDB
    // widens sum(BIGINT) to HUGEINT — the q22 doctrine).
    "image_decode" ->
      s"""WITH d AS (SELECT doc_id, 8 + doc_id % 9 w, 8 + doc_id % 7 h
         |  FROM documents WHERE doc_id < 64),
         |px AS (SELECT doc_id, w, h,
         |${synthLuma("doc_id", "x", "y")} l
         |  FROM d
         |  CROSS JOIN (SELECT unnest(range(0, 17)) x)
         |  CROSS JOIN (SELECT unnest(range(0, 15)) y)
         |  WHERE x < w AND y < h)
         |SELECT doc_id, CAST(w AS INT) width, CAST(h AS INT) height,
         |  CAST(sum(l) AS BIGINT) luma_sum, CAST(w*h AS BIGINT) n_px
         |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // image_resize twin: the nearest-neighbor source lookup is the
    // integer truncation ((x·16)//w, (y·12)//h), so the resized luma is
    // the synthPng formula evaluated at the sampled source coordinates
    "image_resize" ->
      s"""WITH d AS (SELECT doc_id, 4 + doc_id % 5 w, 3 + doc_id % 4 h
         |  FROM documents WHERE doc_id < 64),
         |px AS (SELECT doc_id, w, h,
         |${synthLuma("doc_id", "((x*16)//w)", "((y*12)//h)")} l
         |  FROM d
         |  CROSS JOIN (SELECT unnest(range(0, 9)) x)
         |  CROSS JOIN (SELECT unnest(range(0, 7)) y)
         |  WHERE x < w AND y < h)
         |SELECT doc_id, CAST(w AS INT) width, CAST(h AS INT) height,
         |  CAST(sum(l) AS BIGINT) luma_sum, CAST(w*h AS BIGINT) n_px
         |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // video_frames twin: sampled frame indices are (i·n)//2 for i in
    // 0..1 (n in 3..6, so always 0 and n//2); frame f's luma replays
    // the synthPng formula at effective id doc_id·100 + f over the
    // fixed 8×6 lattice
    "video_frames" -> videoFramesSql,
    // video_frames_mp4 twin: video_frames' SQL VERBATIM (one shared
    // emitter) — the MP4 fixture carries the same frames on the same
    // clock, so a correct demuxer is invisible to the numbers
    "video_frames_mp4" -> videoFramesSql,
    // audio_decode twin: replay the PCM16 sample formula and sum the
    // absolute values on the signed-16-bit integer grid
    "audio_decode" ->
      s"""WITH d AS (SELECT doc_id, 64 + doc_id % 17 n
         |  FROM documents WHERE doc_id < 64),
         |sm AS (SELECT doc_id, n,
         |  abs(((doc_id*7919 + i*104729) % 65536) - 32768) a
         |  FROM d CROSS JOIN (SELECT unnest(range(0, 81)) i) WHERE i < n)
         |SELECT doc_id, CAST(8000 AS INT) sample_rate, CAST(1 AS INT) channels,
         |  CAST(n AS BIGINT) n_samples, CAST(sum(a) AS BIGINT) abs_sum
         |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    // resample twin: the same PCM16 formula at STRIDE 3 (kept frames
    // i ≡ 0 mod 3), rate 8000//3, kept count ceil(n/3) = (n+2)//3
    "audio_resample" ->
      s"""WITH d AS (SELECT doc_id, 64 + doc_id % 17 n
         |  FROM documents WHERE doc_id < 64),
         |sm AS (SELECT doc_id, n,
         |  abs(((doc_id*7919 + i*104729) % 65536) - 32768) a
         |  FROM d CROSS JOIN (SELECT unnest(range(0, 81)) i)
         |  WHERE i < n AND i % 3 = 0)
         |SELECT doc_id, CAST(2666 AS INT) sample_rate, CAST(1 AS INT) channels,
         |  CAST((n + 2) // 3 AS BIGINT) n_samples, CAST(sum(a) AS BIGINT) abs_sum
         |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,

    // ── quran engine (reference corpus fixtures; absolute path) ────────
    "tafsir_stats" ->
      s"""SELECT count(*) AS entries, count(DISTINCT surah) AS surahs
         |FROM read_json_auto('$QuranGlob')""".stripMargin,
    "tafsir_catalog" ->
      s"""SELECT CAST(surah AS BIGINT) surah, count(*) AS n_ayahs,
         |CAST(sum(length(text_plain)) AS BIGINT) AS total_chars
         |FROM read_json_auto('$QuranGlob') GROUP BY 1 ORDER BY 1""".stripMargin,
    "quran_get_verse" ->
      s"""SELECT verse_key, CAST(surah AS BIGINT) surah, CAST(ayah AS BIGINT) ayah, slug
         |FROM read_json_auto('$QuranGlob') WHERE verse_key='2:255'""".stripMargin,
    "quran_search_fts" -> quranSearchFtsSql,
    "quran_match_syntax" -> quranMatchSyntaxSql,
    "quran_hybrid" -> quranHybridSql,
    // Digest twin over Verify's auxiliary full-vector dump (the npz binary
    // itself has no SQL reader); checks verse keys, dims, and the
    // ×1e7-quantized vector contents element-for-element via md5.
    // Scope: the dump IS this query's output, so this oracle pins only
    // digest-expression parity (Spark round/md5 vs DuckDB), NOT the byte
    // decode — the parse itself is pinned by QuranSpec's golden-digest
    // test against an independent numpy decode of the same npz.
    "npz_embeddings" ->
      s"""SELECT verse_key, CAST(len(embedding) AS BIGINT) dim,
         |md5(list_aggregate(list_transform(embedding,
         |  x -> CAST(CAST(round(CAST(x AS DOUBLE)*1e7) AS BIGINT) AS VARCHAR)),
         |  'string_agg', ',')) vec_md5
         |FROM read_parquet('__VERIFY_AUX__/npz_embeddings_full/*.parquet')
         |ORDER BY verse_key""".stripMargin,

    // ── hadith corpus (reference fixtures; absolute path) ──────────────
    "hadith_book_stats" ->
      s"""WITH $NarratorsCte
         |SELECT book_id, count(*) AS total_hadith,
         |count(DISTINCT cn) AS unique_narrators
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "hadith_catalog" -> HadithCatalogSql,
    "hadith_ingest_totals" ->
      s"""WITH $NarratorsCte,
         |bs AS (SELECT book_id, count(*) th, count(DISTINCT cn) un FROM v GROUP BY 1)
         |SELECT count(*) AS books, CAST(sum(th) AS BIGINT) AS total_hadith,
         |CAST(sum(un) AS BIGINT) AS narrator_slots FROM bs""".stripMargin,
    // crawl_resume twin: replay the injected transport's presence and
    // body formulas over the (group, seq) lattice — the crawl's spool
    // must equal this set row for row (1..n_g pages, minus the g%3=0
    // hole at seq 2; bodies share the md5 derivation)
    "crawl_resume" ->
      """WITH p AS (SELECT g, unnest(range(1, 8)) seq
        |  FROM (SELECT unnest(range(0, 10)) g))
        |SELECT CAST(g AS INT) "group", CAST(seq AS INT) seq,
        |  'page-' || g || '-' || seq || '-' || md5(g || ':' || seq) body
        |FROM p WHERE seq <= 3 + (g*7) % 5 AND NOT (g % 3 = 0 AND seq = 2)
        |ORDER BY 1, 2""".stripMargin,
    // S6 snapshot-sink twin: replay the key/payload derivation — the
    // partitioned text spool must round-trip it row for row
    "snapshot_sink_roundtrip" ->
      """WITH k AS (SELECT 'book_' || (i % 5) || '_' || i AS "key"
        |  FROM (SELECT unnest(range(0, 30)) i))
        |SELECT "key", 'payload-' || md5("key") payload
        |FROM k ORDER BY "key"""".stripMargin,
    // S7 retry-policy twin: regime, status, attempt count and body all
    // re-derived from md5(url) — the first hex nibble picks the regime,
    // retryable 503s retry (regime 1 succeeds at attempt 2+n%3, regime 2
    // exhausts maxRetries=5 at 6 attempts), non-retryable 404 stops at 1
    "fetch_retries" ->
      """WITH u AS (SELECT 'https://example.test/item/' || i url
        |  FROM (SELECT unnest(range(0, 40)) i)),
        |x AS (SELECT url, strpos('0123456789abcdef', substr(md5(url),1,1)) - 1 n FROM u),
        |r AS (SELECT url, n, n % 4 regime FROM x)
        |SELECT url,
        |  CASE WHEN regime IN (0,1) THEN 'body-' || md5(url) END body,
        |  CAST(CASE WHEN regime IN (0,1) THEN 200 WHEN regime=2 THEN 503 ELSE 404 END AS INT) status,
        |  CAST(CASE WHEN regime=0 THEN 1 WHEN regime=1 THEN 2 + n % 3 WHEN regime=2 THEN 6 ELSE 1 END AS INT) attempts
        |FROM r ORDER BY url""".stripMargin,
    // S4 sink round-trip: aggregate re-derived from the RAW corpus; any
    // row/field the JSONL sink drops or mangles breaks the hash
    "jsonl_sink_roundtrip" ->
      s"""WITH v AS (SELECT book_id, hadith_id_site, checksum
         |  FROM $BilingualHadith)
         |SELECT book_id, CAST(count(*) AS BIGINT) n_rows,
         |CAST(count(DISTINCT checksum) AS BIGINT) n_checksums,
         |min(hadith_id_site) first_site_id
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // sink round-trip: same relational derivation as hadith_catalog — if
    // the JSON sink drops or mangles anything, the hash check fails
    "catalog_sink_roundtrip" -> HadithCatalogSql,

    // ── HTML→record parser parity (r17) ────────────────────────────────
    // The engine parses the 20 RAW fixture pages; this side reads the
    // reference's own shipped JSONL output of the same pages — the
    // strongest possible oracle for parser.py parity (the checksum
    // column is the reference's computed sha256, models.py:76-83, which
    // the engine recomputes from its extracted texts).
    "parse_book_page" ->
      s"""SELECT collection_slug, collection_name, book_id, book_title_en,
         |book_title_ar, chapter_id, chapter_number_en, chapter_number_ar,
         |chapter_title_en, chapter_title_ar, hadith_id_site,
         |hadith_num_global, hadith_num_in_book,
         |texts[1].content AS text_en, texts[2].content AS text_ar, narrator,
         |array_to_string(list_transform("references",
         |  r -> r.label || '=' || r.value), '; ') AS refs,
         |CAST(len(grading) AS BIGINT) AS n_grading,
         |CAST(len(topics) AS BIGINT) AS n_topics,
         |CAST(len(footnotes) AS BIGINT) AS n_footnotes,
         |source_url, checksum
         |FROM $HadithRead
         |ORDER BY book_id, hadith_id_site""".stripMargin,
    // book rollup vs the shipped index.json `books` entries
    "parse_book_index" ->
      s"""WITH idx AS (SELECT unnest(books) AS b
         |  FROM read_json_auto('${Queries.SunnahIndexJson}'))
         |SELECT b.book_id AS book_id, b.book_number AS book_number,
         |b.book_title_en AS book_title_en, b.book_title_ar AS book_title_ar,
         |b.source_url AS source_url,
         |CAST(b.hadith_count AS BIGINT) AS hadith_count,
         |CAST(b.chapter_count AS BIGINT) AS chapter_count
         |FROM idx ORDER BY book_id""".stripMargin,
    // chapter rollup vs index.json's nested `chapters` arrays
    "parse_chapter_index" ->
      s"""WITH idx AS (SELECT unnest(books) AS b
         |  FROM read_json_auto('${Queries.SunnahIndexJson}')),
         |ch AS (SELECT b.book_id AS book_id, unnest(b.chapters) AS c FROM idx)
         |SELECT book_id, c.chapter_id AS chapter_id,
         |c.chapter_number_en AS chapter_number_en,
         |c.chapter_number_ar AS chapter_number_ar,
         |c.chapter_title_en AS chapter_title_en,
         |c.chapter_title_ar AS chapter_title_ar,
         |CAST(c.hadith_count AS BIGINT) AS hadith_count
         |FROM ch ORDER BY book_id, chapter_id""".stripMargin,
    // streaming twin: micro-batched parse must equal the batch parse
    // (the shipped JSONL again — key columns + the recomputed checksum)
    "stream_parse_ingest" ->
      s"""SELECT book_id, hadith_id_site, chapter_id, checksum
         |FROM $HadithRead
         |ORDER BY book_id, hadith_id_site""".stripMargin,
    // hand-computed expectations for the synthetic edge page + index
    // (see Queries.SunnahEdgeBattery for the behavior each row pins)
    "parse_edge_battery" ->
      """SELECT * FROM (VALUES
        | ('book','tb','The Edge Book','tb','3 1'),
        | ('collection','name','مجموعة Test Collection','',''),
        | ('index','1','Book One','https://sunnah.com/test/1',''),
        | ('index','2','Book Two','https://sunnah.com/test/2',''),
        | ('index','4','Book Four','https://sunnah.com/test/4',''),
        | ('meta','h100','Reference=Edge 100; In-book reference=Book T, Hadith 1','Al-Albani|Sahih|; Grader Two|Hasan|chain note','faith,manners#a footnote'),
        | ('meta','h400','','','#'),
        | ('meta','x7','','','#'),
        | ('nums','h100','Edge 100','Book T, Hadith 1','C1.00 Edge Cases'),
        | ('nums','h400','','','C1.00 Second'),
        | ('nums','x7','','','C1.00 Edge Cases'),
        | ('quarantine','2','','no_stable_id',''),
        | ('quarantine','3','h300','missing_text',''),
        | ('record','h100','Narrator One reported: First & finest body text.','نص واحد','Narrator One reported:'),
        | ('record','h400','Fourth.','رابع',''),
        | ('record','x7','Second text via anchor id.','نص اثنان','')
        |) AS t(kind, k, v1, v2, v3) ORDER BY kind, k""".stripMargin,
  )

  /** The quran corpus/postings/dictionary/stats CTE base — shared by
    * the lexical-leg replays and the MATCH-syntax replay. */
  private def quranBaseCtes: String =
    s"""raw AS (SELECT surah, ayah, verse_key, text_plain FROM read_json_auto('$QuranGlob')),
       |docs AS (SELECT surah*1000+ayah doc_id, verse_key, surah, ayah, text_plain FROM raw),
       |toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text_plain),
       |  '[^a-z0-9_؀-ۿ]+'), t -> len(t)>0) t FROM docs),
       |p0 AS (SELECT doc_id, CAST(len(t) AS BIGINT) dl, unnest(t) term FROM toks),
       |p AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) tf FROM p0 GROUP BY 1,2,3),
       |d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) df FROM p GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) n_docs, CAST(sum(dl) AS BIGINT) sum_dl
       |       FROM (SELECT DISTINCT doc_id, dl FROM p))""".stripMargin

  /** One BM25 aggregate over query-term CTE `q$sfx`, restricted to
    * candidate CTE `cand$sfx` when present — the formula is byte-shared
    * with the lexical leg so the two replays cannot drift. */
  private def bmCte(sfx: String, restrict: Boolean): String =
    s"""bm$sfx AS (SELECT p.doc_id, ${bm25Sum("      ")}
       |  FROM p JOIN q$sfx USING(term) JOIN d USING(term) CROSS JOIN st
       |  ${if (restrict) s"WHERE p.doc_id IN (SELECT doc_id FROM cand$sfx)" else ""}
       |  GROUP BY 1)""".stripMargin

  /** Shared tafsir lexical-leg CTEs (corpus scan → tokenize → postings →
    * BM25 → top-25), used VERBATIM by both quran oracles so the
    * tokenizer/BM25-constant/tie-break semantics cannot diverge between
    * them. Yields CTEs `raw/docs/.../top(doc_id, bm25)`. */
  private def quranLexCtes: String = {
    val terms = wordList(Router.embedTokens(Queries.QuranQuery))
    s"""$quranBaseCtes,
       |q AS (SELECT unnest($terms) term),
       |${bmCte("", restrict = false)},
       |top AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 25)""".stripMargin
  }

  /** FTS5 MATCH syntax replay (graft.operators.FtsMatch — r15 verdict
    * #2): each registered MATCH query's AST — the SAME AST the engine
    * executes — compiles to DuckDB set algebra via FtsMatch.candSql
    * (AND = INTERSECT, OR = UNION, NOT = EXCEPT, phrase/NEAR =
    * position-list lambdas over the toks CTE), then BM25 over the
    * query's positive tokens restricted to the candidate set, top 5 by
    * (bm25 desc, doc_id). One parser, two backends — the replay cannot
    * drift from the engine on syntax interpretation. */
  private def quranMatchSyntaxSql: String = {
    import graft.operators.FtsMatch
    val parts = Queries.MatchQueries.zipWithIndex.map { case ((tag, mq), i) =>
      val ast = FtsMatch.parse(mq)
        .fold(e => sys.error(s"registered MATCH query failed to parse: $e"),
          identity)
      s"""q$i AS (SELECT DISTINCT term FROM d WHERE ${FtsMatch.positiveTermPredSql(ast)}),
         |cand$i AS (SELECT doc_id FROM ${FtsMatch.candSql(ast)}),
         |${bmCte(i.toString, restrict = true)},
         |sel$i AS (SELECT '${sq(tag)}' q, doc_id, bm25 FROM bm$i
         |  ORDER BY bm25 DESC, doc_id LIMIT 5)""".stripMargin
    }
    s"""WITH $quranBaseCtes,
       |${parts.mkString(",\n")}
       |SELECT q,
       |  CAST(doc_id // 1000 AS VARCHAR) || ':' || CAST(doc_id % 1000 AS VARCHAR) verse_key,
       |  CAST(doc_id // 1000 AS BIGINT) surah, CAST(doc_id % 1000 AS BIGINT) ayah, bm25
       |FROM (${Queries.MatchQueries.indices.map(i => s"SELECT * FROM sel$i")
           .mkString(" UNION ALL ")})
       |ORDER BY q, verse_key""".stripMargin
  }

  /** Quran.search's tail: the best `src` hit per distinct preview, top 5. */
  private def quranTop5(src: String, vec: String): String =
    s"""r AS (SELECT *, row_number() OVER (PARTITION BY md5(text_preview)
       |      ORDER BY score DESC, bm25 DESC, surah, ayah) rn FROM $src)
       |SELECT verse_key, CAST(surah AS BIGINT) surah, CAST(ayah AS BIGINT) ayah,
       |round(score,6) score, $vec vector_score,
       |round(fts_score,6) fts_score, text_preview
       |FROM r WHERE rn=1 ORDER BY score DESC, bm25 DESC, surah, ayah LIMIT 5""".stripMargin

  private def quranSearchFtsSql: String = {
    s"""WITH $quranLexCtes,
       |f AS (SELECT doc_id, bm25,
       |      round(greatest(0.0,bm25)/(1.0+greatest(0.0,bm25)),6) fts_score FROM top),
       |h AS (SELECT d2.verse_key, d2.surah, d2.ayah, f.fts_score, f.bm25,
       |      substring(d2.text_plain,1,200) text_preview FROM f JOIN docs d2 USING(doc_id)),
       |sc AS (SELECT *, round(0.0*0.0 + 1.0*fts_score, 6) score FROM h),
       |${quranTop5("sc", "CAST(0.0 AS DOUBLE)")}""".stripMargin
  }

  /** Full hybrid tafsir search twin (search.py:178-318 semantics): the
    * SAME lexical leg as [[quranSearchFtsSql]] plus the quantized vector
    * leg over the npz vectors. The binary npz itself has no SQL reader,
    * so the leg replays over the auxiliary full-vector parquet Verify
    * dumps (`npz_embeddings_full`; `__VERIFY_AUX__` is substituted with
    * the dump dir at oracle-emit time) — the parse stays pinned by unit
    * tests; everything downstream of it is oracle-checked here. */
  private def quranHybridSql: String = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    s"""WITH $quranLexCtes,
       |f AS (SELECT d2.verse_key, top.bm25,
       |      round(greatest(0.0,bm25)/(1.0+greatest(0.0,bm25)),6) fts_score
       |      FROM top JOIN docs d2 USING(doc_id)),
       |emb AS (SELECT verse_key, list_transform(embedding, x -> round(${d("x")}*1e7)) qv
       |        FROM read_parquet('__VERIFY_AUX__/npz_embeddings_full/*.parquet')),
       |q1 AS (SELECT qv qq, sqrt(list_dot_product(qv,qv)) qn FROM emb WHERE verse_key='1:1'),
       |cosd AS (SELECT e.verse_key,
       |        round(list_dot_product(e.qv, q1.qq)
       |          /(sqrt(list_dot_product(e.qv,e.qv))*q1.qn),6) cos
       |        FROM emb e CROSS JOIN q1),
       |v AS (SELECT verse_key, max(cos) vector_score FROM cosd WHERE cos>0 GROUP BY 1),
       |vtop AS (SELECT verse_key, vector_score FROM v
       |         ORDER BY vector_score DESC, verse_key LIMIT 50),
       |fu AS (SELECT coalesce(f.verse_key, vtop.verse_key) verse_key,
       |       coalesce(fts_score, ${d("0.0")}) fts_score,
       |       coalesce(bm25, ${d("0.0")}) bm25,
       |       coalesce(vector_score, ${d("0.0")}) vector_score
       |       FROM f FULL OUTER JOIN vtop ON f.verse_key = vtop.verse_key),
       |sc AS (SELECT *, round(${d("0.6")}*vector_score + ${d("0.4")}*fts_score, 6) score FROM fu),
       |h AS (SELECT sc.*, d2.surah, d2.ayah,
       |      substring(d2.text_plain,1,200) text_preview
       |      FROM sc JOIN docs d2 USING(verse_key)),
       |${quranTop5("h", "round(vector_score,6)")}""".stripMargin
  }

  /** F10/F19/F26/F27 battery twin — unescape mirrored by chained
    * replaces over exactly the battery's entity set (ordered so no
    * replace output feeds a later pattern; `&amp;` last), matchQuote
    * recomputed from the raw term, timestamps via epoch-based
    * make_timestamp (naive UTC, matching the session's UTC zone). */
  private def serveFnsSql: String = {
    def dd(x: String) = s"CAST($x AS DOUBLE)"
    val values = ServeBattery.rows.map { case (rid, dist, html, term, epoch) =>
      s"($rid, ${dd(dist.toString)}, '${sq(html)}', '${sq(term)}', $epoch)"
    }.mkString(",\n")
    s"""WITH b(rid, dist, html, term, epoch) AS (VALUES
       |$values)
       |SELECT rid,
       |round(${dd("1.0")}/(${dd("1.0")}+greatest(${dd("0.0")}, dist)), 6) sim,
       |replace(replace(replace(replace(replace(replace(replace(html,
       |  '&lt;','<'), '&gt;','>'), '&quot;','"'), '&#39;',''''), '&nbsp;',' '),
       |  '&#x62;','b'), '&amp;','&') unescaped,
       |CASE WHEN regexp_matches(term, '\\s')
       |     THEN '"'||replace(term,'"','""')||'"' ELSE term END match_quoted,
       |strftime(make_timestamp(CAST(epoch AS BIGINT)*1000000), '%Y-%m-%d %H:%M:%S') ts_iso
       |FROM b ORDER BY rid""".stripMargin
  }

  /** P7 gate twin — the same exact-{ar,en} language-set predicate with the
    * same null-safe coalesce(…, false) quarantine routing. */
  private def validateBatterySql: String = {
    val values = ValidateBattery.rows.map { case (rid, texts, corrupt) =>
      val t = texts.map { ts =>
        if (ts.isEmpty) "CAST([] AS STRUCT(language VARCHAR, content VARCHAR)[])"
        else ts.map { case (l, c) => s"{'language':'${sq(l)}','content':'${sq(c)}'}" }
          .mkString("[", ",", "]")
      }.getOrElse("CAST(NULL AS STRUCT(language VARCHAR, content VARCHAR)[])")
      val co = corrupt.map(c => s"'${sq(c)}'").getOrElse("CAST(NULL AS VARCHAR)")
      s"($rid, $t, $co)"
    }.mkString(",\n")
    s"""WITH b(rid, texts, corrupt) AS (VALUES
       |$values)
       |SELECT rid, coalesce(corrupt IS NULL AND
       |  $BilingualPred,
       |  false) is_valid
       |FROM b ORDER BY rid""".stripMargin
  }

  /** E4 twin — manifest changed ⇔ either direction of the (name,size)
    * anti-join is non-empty, as list set algebra. */
  private def manifestBatterySql: String = {
    def lst(x: Seq[(String, Long)]) =
      if (x.isEmpty) "CAST([] AS STRUCT(name VARCHAR, size BIGINT)[])"
      else x.map { case (n, sz) => s"{'name':'${sq(n)}','size':${sz}}" }
        .mkString("[", ",", "]")
    val values = ManifestBattery.cases.map { case (cid, cur, st) =>
      s"($cid, ${lst(cur)}, ${lst(st)})"
    }.mkString(",\n")
    s"""WITH b(cid, cur, st) AS (VALUES
       |$values)
       |SELECT cid,
       |(len(list_filter(cur, c -> NOT list_contains(st, c))) > 0 OR
       | len(list_filter(st, s -> NOT list_contains(cur, s))) > 0) changed
       |FROM b ORDER BY cid""".stripMargin
  }

  private def routeQuerySql: String = {
    val values = RouteBattery.queries.zipWithIndex
      .map { case (q, i) => s"($i, '${sq(q)}')" }.mkString(",\n")
    s"""WITH b(qid, q0) AS (VALUES
       |$values),
       |t AS (SELECT qid, trim(q0) q FROM b),
       |x AS (SELECT qid, q,
       |  nullif(regexp_extract(q, '(?i)\\b(narrated by|reported by|said by)\\b\\s*(.+)$$', 2), '') g_en,
       |  nullif(regexp_extract(q, '(?:^|\\s)عن\\s+(.+)$$', 1), '') g_ar,
       |  nullif(regexp_extract(q, '"([^"]{3,})"', 1), '') ph_d,
       |  nullif(regexp_extract(q, '''([^'']{3,})''', 1), '') ph_s,
       |  regexp_matches(q, '(?i)\\b(?:book|kitab|bk)?\\s*\\d+(?:\\s*[:\\-/]\\s*\\d+)?\\b') is_ref,
       |  CASE WHEN length(q)>=2 AND ((left(q,1)='"' AND right(q,1)='"') OR (left(q,1)='''' AND right(q,1)=''''))
       |       THEN trim(substring(q, 2, length(q)-2)) ELSE q END normalized
       |  FROM t),
       |y AS (SELECT *, coalesce(g_en, g_ar) graw, coalesce(ph_d, ph_s) phrase FROM x),
       |z AS (SELECT *, coalesce(${canonSql("graw")}, nullif(trim(graw),'')) narrator FROM y),
       |w AS (SELECT *,
       |  list_filter(regexp_extract_all(lower(q), '[a-z0-9_؀-ۿ]+'), s -> len(s)>1) qtoks,
       |  list_filter(regexp_extract_all(lower(normalized), '[a-z0-9_؀-ۿ]+'), s -> len(s)>1) itoks,
       |  list_filter(regexp_extract_all(lower(coalesce(narrator,'')), '[a-z0-9_؀-ۿ]+'), s -> len(s)>1) ntoks0
       |  FROM z),
       |c AS (SELECT *, CASE
       |    WHEN is_ref THEN 'exact_reference'
       |    WHEN narrator IS NOT NULL THEN 'narrator'
       |    WHEN len(qtoks)>=4 OR phrase IS NOT NULL THEN 'thematic'
       |    ELSE 'mixed' END qtype,
       |  CASE WHEN len(ntoks0)>0 THEN ntoks0 ELSE itoks END ntoks
       |  FROM w)
       |SELECT qid, qtype, normalized, narrator, phrase,
       |  CASE WHEN qtype='narrator' AND narrator IS NOT NULL THEN
       |    (CASE WHEN len(ntoks)>0
       |          THEN array_to_string(list_transform(ntoks[1:6], s -> 'narrator:'||s||'*'), ' AND ')
       |          ELSE normalized END)
       |  WHEN phrase IS NOT NULL THEN '"'||phrase||'"'
       |  ELSE CASE WHEN len(itoks)>0
       |            THEN array_to_string(list_transform(itoks[1:6], s -> s||'*'), ' AND ')
       |            ELSE normalized END
       |  END fts_match
       |FROM c ORDER BY qid""".stripMargin
  }

  private def priorityScoreSql: String = {
    val values = ScoreBattery.rows.map { case (sid, vs, bm, text, phrase, toks) =>
      val v = vs.map(_.toString).getOrElse("NULL")
      val b = bm.map(_.toString).getOrElse("NULL")
      val p = phrase.map(s => s"'${sq(s)}'").getOrElse("NULL")
      val tl = toks.map(s => s"'${sq(s)}'").mkString("[", ",", "]")
      s"($sid, CAST($v AS DOUBLE), CAST($b AS DOUBLE), '${sq(text)}', CAST($p AS VARCHAR), CAST($tl AS VARCHAR[]))"
    }.mkString(",\n")
    s"""WITH s(sid, vs, bm25, text, phrase, tokens) AS (VALUES
       |$values),
       |c AS (SELECT sid,
       |  least(1.0, greatest(0.0, coalesce(vs, 0.0))) v,
       |  $FtsSignal f,
       |  CAST(CASE WHEN phrase IS NOT NULL AND strpos(lower(text), lower(phrase))>0 THEN 0.05 ELSE 0.0 END AS DOUBLE) pb,
       |  CASE WHEN len(tokens)>0
       |       THEN CAST(len(list_filter(tokens, s2 -> strpos(lower(text), s2)>0)) AS DOUBLE)/len(tokens)
       |       ELSE 0.0 END cov
       |  FROM s)
       |SELECT sid, round(v,4) vector_similarity, round(f,4) fts_signal,
       |  round(pb,4) phrase_bonus, round(cov,4) term_coverage,
       |  round(least(1.0, greatest(0.0, 0.6*v + 0.4*f + pb + 0.0 + 0.2*cov)),4) score
       |FROM c ORDER BY sid""".stripMargin
  }

  /** Synonym-group coverage twin: RECOMPUTES Router.lightStems from the
    * raw battery tokens in SQL — same ordered suffix rules, same length
    * guards, same undoubling — then replays the group-coverage fraction
    * (scoring.py:57-67's group branch). Groups are compared as a
    * sorted-distinct rendering, so the morphology itself is hash-gated. */
  private def coverageGroupsSql: String = {
    val values = CoverageBattery.rows.map { case (cid, text, toks) =>
      val tl = toks.map(t => s"'${sq(t)}'").mkString("[", ",", "]")
      s"($cid, '${sq(text)}', CAST($tl AS VARCHAR[]))"
    }.mkString(",\n")
    // the unnest lattice is sized FROM the battery, so a wider future
    // row can never be silently truncated by the SQL twin
    val maxToks = CoverageBattery.rows.map(_._3.size).max
    // one CASE per Router.lightStems rule, applied independently to the
    // ORIGINAL token (not chained) — candidate is NULL when the rule's
    // suffix/length guard does not fire
    def undouble(stripN: Int) = {
      val last = s"substr(t, len(t)-$stripN, 1)"
      val prev = s"substr(t, len(t)-${stripN + 1}, 1)"
      s"len(t)-$stripN >= 3 AND $last = $prev AND $last NOT IN ('a','e','i','o','u')"
    }
    val cands = Seq(
      "CASE WHEN len(t)=5 AND ends_with(t,'ying') THEN substr(t,1,1)||'ie' END",
      "CASE WHEN len(t)>=5 AND ends_with(t,'ies') THEN substr(t,1,len(t)-3)||'y' END",
      "CASE WHEN len(t)>=6 AND ends_with(t,'ing') THEN substr(t,1,len(t)-3) END",
      s"CASE WHEN len(t)>=6 AND ends_with(t,'ing') AND ${undouble(3)} THEN substr(t,1,len(t)-4) END",
      "CASE WHEN len(t)>=5 AND ends_with(t,'ed') THEN substr(t,1,len(t)-2) END",
      s"CASE WHEN len(t)>=5 AND ends_with(t,'ed') AND ${undouble(2)} THEN substr(t,1,len(t)-3) END",
      "CASE WHEN len(t)>=7 AND ends_with(t,'ness') THEN substr(t,1,len(t)-4) END",
      "CASE WHEN len(t)>=6 AND ends_with(t,'ful') THEN substr(t,1,len(t)-3) END",
      "CASE WHEN len(t)>=7 AND (ends_with(t,'ance') OR ends_with(t,'ence')) THEN substr(t,1,len(t)-4) END",
      "CASE WHEN len(t)>=6 AND ends_with(t,'ity') THEN substr(t,1,len(t)-3) END",
      "CASE WHEN len(t)>=5 AND ends_with(t,'es') THEN substr(t,1,len(t)-2) END",
      "CASE WHEN len(t)>=4 AND ends_with(t,'s') AND NOT ends_with(t,'ss') AND NOT ends_with(t,'us') AND NOT ends_with(t,'is') THEN substr(t,1,len(t)-1) END",
      "CASE WHEN len(t)>=5 AND ends_with(t,'y') THEN substr(t,1,len(t)-1) END"
    ).mkString(",\n       |    ")
    s"""WITH b(cid, text, tokens) AS (VALUES
       |$values),
       |tok AS (SELECT cid, i, tokens[CAST(i+1 AS INT)] t
       |        FROM b CROSS JOIN (SELECT unnest(range(0, $maxToks)) i)
       |        WHERE i < len(tokens)),
       |g AS (SELECT cid, i, list_sort(list_distinct(list_prepend(t, list_filter([
       |    $cands
       |  ], x -> x IS NOT NULL AND len(x)>=3 AND x<>t)))) grp FROM tok),
       |h AS (SELECT g.cid, g.i, g.grp,
       |      len(list_filter(g.grp, x -> strpos(lower(b.text), x)>0))>0 hit
       |      FROM g JOIN b USING(cid)),
       |agg AS (SELECT cid,
       |      string_agg(array_to_string(grp, '|'), ';' ORDER BY i) stems,
       |      round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 4) coverage
       |      FROM h GROUP BY cid)
       |SELECT cid, stems, coverage FROM agg ORDER BY cid""".stripMargin
  }

  /** Text-function battery twin (F13/F19/F20/F21/F22). Proximity uses
    * explicit position rows (index join) — the relational twin of the
    * nested-aggregate min-distance column expression. */
  private def textFnsSql: String = {
    val values = TextBattery.rows
      .map { case (tid, s) => s"($tid, '${sq(s)}')" }.mkString(",\n")
    def lst(ws: Seq[String]) = ws.map(w => s"'${sq(w)}'").mkString("[", ",", "]")
    s"""WITH b(tid, s) AS (VALUES
       |$values),
       |x AS (SELECT tid, s,
       |  regexp_replace(s, '<[^>]+>', ' ', 'g') stripped FROM b),
       |y AS (SELECT *, trim(regexp_replace(stripped, '\\s+', ' ', 'g')) normed FROM x),
       |z AS (SELECT *, trim(regexp_replace(normed, '[\\s٠-٩۰-۹0-9]+$$', '')) nosuffix FROM y),
       |ar AS (SELECT tid,
       |  length(s)-length(regexp_replace(s,'[؀-ۿ]','','g')) nar,
       |  length(s)-length(regexp_replace(s,'[a-zA-Z؀-ۿ]','','g')) nalpha FROM b),
       |tk AS (SELECT tid, list_filter(regexp_split_to_array(lower(s),
       |  '[^a-z0-9_؀-ۿ]+'), t -> len(t)>0) t FROM b),
       |pos AS (SELECT tid, i, t[CAST(i+1 AS INT)] tok FROM tk
       |        CROSS JOIN (SELECT unnest(range(0, 100)) i) WHERE i < len(t)),
       |p0 AS (SELECT tid, i FROM pos WHERE list_contains(${lst(TextBattery.g0)}, tok)),
       |p1 AS (SELECT tid, i FROM pos WHERE list_contains(${lst(TextBattery.g1)}, tok)),
       |md AS (SELECT p0.tid, min(abs(p0.i - p1.i)) d FROM p0 JOIN p1 USING(tid) GROUP BY 1)
       |SELECT b.tid, x.stripped, y.normed, z.nosuffix,
       |  CASE WHEN ar.nalpha>0 AND CAST(ar.nar AS DOUBLE)/ar.nalpha > 0.5
       |       THEN true ELSE false END is_ar,
       |  round(CASE WHEN md.d IS NOT NULL AND md.d <= 5 THEN CAST(0.1 AS DOUBLE)
       |             ELSE CAST(0.0 AS DOUBLE) END, 4) prox
       |FROM b JOIN x USING(tid) JOIN y USING(tid) JOIN z USING(tid)
       |  JOIN ar USING(tid) LEFT JOIN md USING(tid)
       |ORDER BY tid""".stripMargin
  }

  /** F17 spec-model battery twin (HADITH_SEARCH_SPEC.md:325-392) — same
    * driver-side ar/en term split, same literals, DOUBLE-cast weights
    * (DuckDB decimal literals would otherwise change the arithmetic). */
  private def specScoreSql: String = {
    def isAr(t: String) = t.exists(c => c >= '؀' && c <= 'ۿ')
    val terms = SpecBattery.terms
    val (arT, enT) = terms.partition(isAr)
    val phrase = sq(terms.mkString(" ").toLowerCase)
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val values = SpecBattery.rows.map { case (sid, narr, en, ar, g) =>
      val n = narr.map(s => s"'${sq(s)}'").getOrElse("NULL")
      val gl = g.map(s => s"'${sq(s)}'").mkString("[", ",", "]")
      s"($sid, CAST($n AS VARCHAR), '${sq(en)}', '${sq(ar)}', CAST($gl AS VARCHAR[]))"
    }.mkString(",\n")
    // mirror Scoring.specParts' empty-side guards (reduceOption/isEmpty):
    // an all-English or all-Arabic battery must yield literal 0 arms, not
    // a '()' syntax error or a divide-by-zero that only the oracle hits
    val narrCond =
      if (terms.isEmpty) "false"
      else (enT ++ arT)
        .map(t => s"coalesce(strpos(lower(narrator), '${sq(t.toLowerCase)}')>0, false)")
        .mkString(" OR ")
    val hitsAr =
      if (arT.isEmpty) "0"
      else arT.map(t => s"coalesce(CAST(strpos(text_ar, '${sq(t)}')>0 AS INT), 0)")
        .mkString(" + ")
    val hitsEn =
      if (enT.isEmpty) "0"
      else enT.map(t => s"coalesce(CAST(strpos(lower(text_en), '${sq(t.toLowerCase)}')>0 AS INT), 0)")
        .mkString(" + ")
    val abExpr =
      if (arT.isEmpty) d("0.0")
      else s"CAST(arm AS DOUBLE)/${arT.size}*${d("0.3")}"
    val ebExpr =
      if (enT.isEmpty) d("0.0")
      else s"CAST(enm AS DOUBLE)/${enT.size}*${d("0.25")}"
    val covExpr =
      if (terms.isEmpty) d("0.0")
      else s"CAST(arm+enm AS DOUBLE)/${terms.size}"
    s"""WITH b(sid, narrator, text_en, text_ar, grading) AS (VALUES
       |$values),
       |c AS (SELECT sid,
       |  CASE WHEN ($narrCond) THEN ${d("0.4")} ELSE ${d("0.0")} END nb,
       |  ($hitsAr) arm, ($hitsEn) enm,
       |  CASE WHEN strpos(coalesce(lower(array_to_string(grading,' ')),''),'sahih')>0 THEN ${d("0.15")}
       |       WHEN strpos(coalesce(lower(array_to_string(grading,' ')),''),'hasan')>0 THEN ${d("0.10")}
       |       ELSE ${d("0.0")} END gb,
       |  ${
      if (terms.size <= 1) s"${d("0.0")} pb" // spec: phrase only when >1 term
      else s"CASE WHEN strpos(lower(text_en),'$phrase')>0 OR strpos(text_ar,'$phrase')>0 " +
        s"THEN ${d("0.3")} ELSE ${d("0.0")} END pb"
    }
       |  FROM b),
       |e AS (SELECT sid, nb,
       |  $abExpr ab,
       |  $ebExpr eb,
       |  $covExpr cov, gb, pb FROM c)
       |SELECT sid, round(nb,4) narrator_bonus, round(ab,4) arabic_bonus,
       |  round(eb,4) english_bonus, round(cov,4) coverage,
       |  round(gb,4) grading_boost, round(pb,4) phrase_bonus,
       |  round(${d("0.5")}*${d("0.25")} + nb + ab + eb + cov*${d("0.3")} + gb + pb, 4) spec_score
       |FROM e ORDER BY sid""".stripMargin
  }

  /** Spec-mode exact-reference lookup twin: each probe's citation parses
    * driver-side (the same [[Router.parseExactRef]] call the registered
    * query makes — the PARSE itself is pinned by RouterSpec), and the
    * oracle replays the resulting metadata filter over the raw corpus:
    * derived ref numbers, canonical narrator, per-probe top-10 by doc_id. */
  private def exactRefLookupSql: String = {
    val arms = ExactRefBattery.probes.map { case (pid, q) =>
      val r = Router.parseExactRef(Router.route(q).normalized)
        .getOrElse(sys.error(s"unparsable exact-ref probe: $q"))
      val conds = Seq(
        r.collection.map(c => s"collection='${sq(c)}'"),
        r.global.map(g => s"ref_global=$g"),
        r.book.map(b => s"ref_book=$b"),
        r.num.map(x => s"ref_num=$x")).flatten.mkString(" AND ")
      s"""SELECT * FROM (SELECT CAST($pid AS INT) probe_id, doc_id, book_id,
         |  narrator, snippet, CAST(0.0 AS DOUBLE) vector_similarity,
         |  CAST(0.0 AS DOUBLE) fts_signal, CAST(0.0 AS DOUBLE) phrase_bonus,
         |  CAST(0.0 AS DOUBLE) term_coverage, CAST(1.0 AS DOUBLE) score
         |  FROM sv WHERE $conds ORDER BY doc_id LIMIT 10)""".stripMargin
    }
    s"""WITH raw AS (SELECT * FROM $BilingualHadith),
       |sv AS (SELECT
       |  collection_slug||':'||book_id||':'||hadith_id_site doc_id,
       |  book_id, ${canonSql("narrator")} narrator,
       |  collection_slug collection,
       |  TRY_CAST(regexp_extract(hadith_num_global, '(\\d+)\\s*$$', 1) AS BIGINT) ref_global,
       |  TRY_CAST(regexp_extract(hadith_num_in_book, '(?i)book\\s+(\\d+)', 1) AS BIGINT) ref_book,
       |  TRY_CAST(regexp_extract(hadith_num_in_book, '(?i)hadith\\s+(\\d+)', 1) AS BIGINT) ref_num,
       |  substring(trim((list_filter(texts, t -> t.language='en')[1]).content),1,240) snippet
       |  FROM raw)
       |${arms.mkString("", "\nUNION ALL\n", "")}
       |ORDER BY probe_id, doc_id""".stripMargin
  }

  /** The flagship hadith hybrid search, end to end in one statement:
    * silver build (validation + canonicalization + payload render) →
    * narrator-field postings + prefix BM25 top-50 → hashed-embedding
    * cosine top-50 over the payload → full-outer fusion → backfill →
    * priority scoring → top-10. Intent fields (probes, embed vector,
    * coverage tokens) are computed by the SAME driver-side router the
    * Spark query uses and embedded as literals. */
  private def hadithSearchSql: String = {
    val intent = Router.route(Queries.HadithQuery)
    val dim = Queries.HadithDim
    val probes = wordList(Router.tokenize(intent.narrator.get) match {
      case Nil => intent.tokens.take(6); case ts => ts.take(6)
    })
    val qlit = queryVecLit(intent, dim)
    val grpList = groupsLit(intent)
    s"""WITH raw AS (SELECT * FROM $BilingualHadith),
       |sv0 AS (SELECT
       |  collection_slug||':'||book_id||':'||hadith_id_site doc_id,
       |  book_id, ${canonSql("narrator")} narrator,
       |  (list_filter(texts, t -> t.language='en')[1]).content en,
       |  (list_filter(texts, t -> t.language='ar')[1]).content ar
       |  FROM raw),
       |sv AS (SELECT *,
       |  (CASE WHEN narrator IS NOT NULL THEN 'Narrator: '||narrator||chr(10) ELSE '' END)
       |    || coalesce(en,'') || chr(10) || chr(10) || coalesce(ar,'') payload,
       |  ${h60("doc_id")} num_id FROM sv0),
       |ntk AS (SELECT num_id, list_filter(regexp_split_to_array(lower(narrator),
       |  '[^a-z0-9_؀-ۿ]+'), t -> len(t)>0) t FROM sv WHERE narrator IS NOT NULL),
       |np0 AS (SELECT num_id doc_id, CAST(len(t) AS BIGINT) dl, unnest(t) term
       |        FROM ntk WHERE len(t)>0),
       |np AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) tf FROM np0 GROUP BY 1,2,3),
       |nd AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) df FROM np GROUP BY 1),
       |nst AS (SELECT CAST(count(*) AS BIGINT) n_docs, CAST(sum(dl) AS BIGINT) sum_dl
       |        FROM (SELECT DISTINCT doc_id, dl FROM np)),
       |prb AS (SELECT unnest($probes) probe),
       |expd AS (SELECT DISTINCT term, df FROM nd JOIN prb ON starts_with(term, probe)),
       |m AS (SELECT np.doc_id, np.dl, np.tf, expd.df, nst.n_docs, nst.sum_dl
       |      FROM np JOIN expd USING(term) CROSS JOIN nst),
       |bm AS (SELECT doc_id, ${bm25Sum("      ")} FROM m GROUP BY 1),
       |lex AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50),
       |etk AS (SELECT num_id doc_id, list_filter(regexp_split_to_array(lower(payload),
       |  '[^a-z0-9_؀-ۿ]+'), t -> len(t)>0) t FROM sv),
       |${vectorFuseCtes("etk", dim, qlit)},
       |bf AS (SELECT s2.doc_id hadith_id, s2.book_id, s2.narrator, s2.en, f.bm25, f.cos
       |       FROM fused f JOIN sv s2 ON s2.num_id=f.doc_id),
       |sc AS (SELECT hadith_id, book_id, narrator, en,
       |  least(1.0, greatest(0.0, coalesce(cos, 0.0))) v,
       |  $FtsSignal f,
       |  CASE WHEN len($grpList)>0
       |       THEN CAST(len(list_filter($grpList, g -> len(list_filter(g, t3 -> strpos(lower(en), t3)>0))>0)) AS DOUBLE)/len($grpList)
       |       ELSE 0.0 END cov
       |  FROM bf)
       |SELECT hadith_id AS doc_id, book_id, narrator,
       |  substring(trim(en),1,240) snippet,
       |  $HybridScoreCols
       |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  // ── hybrid fusion (mirror Hybrid.search / HadithSearch.search) ──────
  /** The query's L2-normalized hashed embedding as a ×1e7 half-up SQL
    * literal, from the same driver-side code the Spark query runs. */
  private def queryVecLit(intent: Router.Intent, dim: Int): String =
    VecFns.l2NormalizeLocal(VecFns.hashEmbedLocal(Router.embedTokens(intent.normalized), dim))
      .map(x => BigDecimal(x * VecFns.Scale).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      .map(v => s"$v.0").mkString("[", ",", "]")

  /** Synonym-group coverage literals: the expansion is driver-side query
    * planning (Router.coverageGroups — phrase intents unexpanded),
    * inlined exactly like the token and probe literals, so the oracle
    * replays coverage over the same groups. */
  private def groupsLit(intent: Router.Intent): String =
    Router.coverageGroups(intent)
      .map(g => g.map(t => s"'${sq(t)}'").mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** The vector leg — hashed embeddings of the `etoks` (doc_id, t) lists,
    * quantized cosine to `qlit`, top 50 — full-outer `fused` with `lex`. */
  private def vectorFuseCtes(etoks: String, dim: Int, qlit: String): String =
    s"""ent0 AS (SELECT doc_id, unnest(t) tok FROM $etoks),
       |ent1 AS (SELECT doc_id, ${h31("tok")} hv FROM ent0),
       |ent AS (SELECT doc_id, hv % $dim bucket,
       |        sum(CASE WHEN (hv // $dim) % 2 = 0 THEN 1.0 ELSE -1.0 END) v
       |        FROM ent1 GROUP BY 1,2),
       |nrm AS (SELECT doc_id, sqrt(sum(v*v)) n FROM ent GROUP BY 1),
       |qlit AS (SELECT $qlit qq),
       |slot AS (SELECT doc_id, bucket, round(round(v/n,6)*1e7) qs
       |         FROM ent JOIN nrm USING(doc_id) WHERE n>0),
       |dv AS (SELECT doc_id, sum(qs * qq[CAST(bucket+1 AS INT)]) dot, sqrt(sum(qs*qs)) na
       |       FROM slot CROSS JOIN qlit GROUP BY 1),
       |cosd AS (SELECT doc_id, round(dot/(na*sqrt(list_dot_product(qq,qq))),6) cos
       |         FROM dv CROSS JOIN qlit),
       |vec AS (SELECT doc_id, cos FROM cosd ORDER BY cos DESC, doc_id LIMIT 50),
       |fused AS (SELECT coalesce(l.doc_id, v.doc_id) doc_id, l.bm25, v.cos
       |          FROM lex l FULL OUTER JOIN vec v ON l.doc_id=v.doc_id)""".stripMargin

  private def hybridSearchSql: String = {
    val intent = Router.route(Queries.HybridQuery)
    val terms = intent.tokens.take(6)
    val qlit = queryVecLit(intent, Queries.Dim)
    val grpList = groupsLit(intent)
    s"""WITH ${bm25Cte(terms)},
       |probes AS (SELECT unnest(${wordList(terms)}) probe),
       |expd AS (SELECT DISTINCT term FROM d JOIN probes ON starts_with(term, probe)),
       |mx AS (SELECT p.doc_id, p.dl, p.tf, d.df, st.n_docs, st.sum_dl
       |       FROM p JOIN expd USING(term) JOIN d USING(term) CROSS JOIN st),
       |bmx AS (SELECT doc_id, ${bm25Sum("       ")} FROM mx GROUP BY 1),
       |lex AS (SELECT doc_id, bm25 FROM bmx ORDER BY bm25 DESC, doc_id LIMIT 50),
       |${vectorFuseCtes("toks", Queries.Dim, qlit)},
       |bf AS (SELECT f.doc_id, d2.text, f.bm25, f.cos FROM fused f JOIN documents d2 USING(doc_id)),
       |sc AS (SELECT doc_id, text,
       |  least(1.0, greatest(0.0, coalesce(cos, 0.0))) v,
       |  $FtsSignal f,
       |  CASE WHEN len($grpList)>0
       |       THEN CAST(len(list_filter($grpList, g -> len(list_filter(g, t2 -> strpos(lower(text), t2)>0))>0)) AS DOUBLE)/len($grpList)
       |       ELSE 0.0 END cov
       |  FROM bf)
       |SELECT doc_id, substring(trim(text),1,240) snippet,
       |  $HybridScoreCols
       |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }
}
