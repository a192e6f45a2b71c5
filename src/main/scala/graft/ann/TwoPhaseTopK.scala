package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Quantize, Similarity}

/**
 * The batch top-k similarity join as ONE operator — the IVF-ADC layout of
 * Jégou et al. 2011 (§IV), shared by the SQ8/PQ joins
 * ([[graft.functions.Quantize.quantizedTopKJoin]], [[PqCodebook.topKJoin]],
 * [[IvfIndex.quantizedTopKJoin]], [[IvfIndex.pqTopKJoin]]), the exact IVF
 * join ([[IvfIndex.topKJoin]]) and the hard-negative miners
 * ([[Negatives.hardNegatives]], [[IvfIndex.hardNegatives]]). Those entry
 * points differ in exactly two choices, each a small closed set here:
 *
 *  - the [[Candidates]] generator — which (query, corpus row) pairs get
 *    scored: a broadcast cross-join (bounded query side) or an IVF cell
 *    probe (both sides large);
 *  - the [[Codec]] of the coarse pass — SQ8 int8 codes or PQ ADC.
 *
 * [[rescored]] is the one two-phase tail: coarse score over codes only →
 * `shortlist`-deep [[BoundedTopK]] cut → float vectors re-attached by id →
 * exact cosine → [[BoundedTopK]] k. Because every entry point runs this
 * code, the nProbe = nCells identities (broadcast ≡ IVF, per codec) hold
 * by construction: at exhaustive probes both generators emit the same
 * pair set, and everything downstream is shared.
 */
private[graft] object TwoPhaseTopK {

  /** Where scored pairs come from. Both sides use fixed column names:
    * queries (qid, qv, extras…), corpus (cid, cv, extras…).
    *
    * @param queries the query side, re-joined by qid (broadcast) for
    *                rescoring
    * @param floats  the corpus floats (cid, cv), re-attached by id for
    *                rescoring
    * @param pairs   (q, c) ⇒ (qid, q…, cid, c…) for every candidate pair;
    *                `q` and `c` are evaluated once per query row and once
    *                per corpus row, BEFORE the pairing — so a codec's
    *                per-query work (an ADC table) is never paid per pair */
  final case class Candidates(queries: DataFrame, floats: DataFrame,
      pairs: (Seq[Column], Seq[Column]) => DataFrame)

  /** Broadcast cross-join: every query against every corpus row, the
    * bounded query side broadcast, the corpus streaming. Query ids are NOT
    * deduplicated — a duplicated qid ranks the same cid twice — so callers
    * must pass unique query ids. */
  def broadcastPairs(queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      qExtra: Seq[Column] = Nil, cExtra: Seq[Column] = Nil): Candidates = {
    val q = queries.select(col(qId).as("qid") +: col(qVec).as("qv") +: qExtra: _*)
    val c = corpus.select(col(cId).as("cid") +: col(cVec).as("cv") +: cExtra: _*)
    Candidates(q, c.select("cid", "cv"), (qc, cc) =>
      broadcast(q.select(col("qid") +: qc: _*))
        .crossJoin(c.select(col("cid") +: cc: _*)))
  }

  /** IVF cell probe: each query is assigned its `nProbe` nearest cells by
    * a distributed argmin over the centroids ([[IvfIndex.cellRank]]),
    * exploded to (query, cell) rows, and equi-joined to the
    * cell-partitioned corpus on `cell` — no query broadcast, no all-pairs
    * product; a corpus row lives in exactly one cell and (qid, cell)
    * probes are distinct, so no pair appears twice. `cExtra` are payload
    * columns of the index's cells table.
    *
    * Queries are deduplicated by qid first: a duplicated qid would
    * double-score every matched corpus row and burn ranks on repeats.
    * Duplicates carrying DIFFERENT vectors are caller error; min(qv)
    * (lexicographic array order) picks one deterministically, where a
    * dropDuplicates would keep whichever row a partitioning race surfaced.
    * Extra query columns ride through min(struct(qv, …)) — struct order
    * compares qv first, so the pick is the same row and its extras come
    * with it. */
  def cellProbe(index: IvfIndex, queries: DataFrame, qId: String,
      qVec: String, nProbe: Int, qExtra: Seq[Column] = Nil,
      cExtra: Seq[Column] = Nil): Candidates = {
    val raw = queries.select(col(qId).as("qid") +: col(qVec).as("qv") +: qExtra: _*)
    val kept = raw.columns.tail.toSeq // qv +: extras
    val q = if (qExtra.isEmpty) raw.groupBy("qid").agg(min(col("qv")).as("qv"))
      else raw.groupBy("qid").agg(min(struct(kept.map(col): _*)).as("_q"))
        .select(col("qid") +: kept.map(n => col(s"_q.$n").as(n)): _*)
    val c = index.cells.select(
      col("cell") +: col("id").as("cid") +: col("key").as("cv") +: cExtra: _*)
    val np = math.max(1, math.min(nProbe, index.nCells))
    Candidates(q, c.select("cid", "cv"), { (qc, cc) =>
      val prepped = q.select(
        col("qid") +: qc :+ IvfIndex.cellRank(col("qv"), index.centroids, np)
          .as("_cells"): _*)
      val keep = prepped.columns.init.toSeq.map(col) // all but _cells
      prepped.select(keep :+ explode(col("_cells")).as("_p"): _*)
        .select(keep :+ col("_p.c").as("cell"): _*)
        .join(c.select(col("cell") +: col("cid") +: cc: _*), "cell")
    })
  }

  /** The coarse pass: per-side projections of qv / cv into codes, and the
    * coarse score over those codes alone. */
  final case class Codec(query: Seq[Column], corpus: Seq[Column], score: Column)

  /** SQ8: per-vector min/max int8 codes, scored by the fused dequantizing
    * cosine ([[Quantize.coarseCosine]]). */
  def sq8: Codec = {
    def side(v: String, p: String): Seq[Column] = {
      val (mn, mx) = Quantize.quantParams(col(v))
      Seq(Quantize.int8Codes(col(v)).as(s"${p}codes"), mn.as(s"${p}mn"),
        mx.as(s"${p}mx"))
    }
    Codec(side("qv", "q"), side("cv", "c"), Quantize.coarseCosine(col("qcodes"),
      col("qmn"), col("qmx"), col("ccodes"), col("cmn"), col("cmx")))
  }

  /** PQ: the query side builds its ADC lookup table and norm once per query
    * row (the asymmetric half), each corpus row is m codebook indices, and
    * a scored pair costs m lookups ([[PqCodebook.adcCosine]]). */
  def pq(cb: PqCodebook): Codec = Codec(
    Seq(cb.lutExpr(col("qv")).as("luts"), Similarity.hof.l2Norm(col("qv")).as("qn")),
    Seq(cb.encodeExpr(col("cv")).as("codes")),
    cb.adcCosine(col("luts"), col("qn"), col("codes")))

  /** Two-phase top-k → (qid, cid, cos, rank), cos rounded to 4 dp, ranks
    * by (cos DESC, cid ASC). The coarse pass carries CODES ONLY across the
    * widest stage (the pair table); float vectors are re-attached for the
    * `shortlist` survivors alone. Both rankings go through the bounded
    * per-task fold ([[BoundedTopK]]), never a window sort of the pair
    * table. `shortlist` ≥ corpus size (or probed rows) degrades to exactly
    * the exact-cosine top-k over the candidates. */
  def rescored(cands: Candidates, codec: Codec, k: Int,
      shortlist: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val coarse = cands.pairs(codec.query, codec.corpus)
      .select(col("qid"), col("cid"), codec.score.as("s_coarse"))
    val short = BoundedTopK.topK(coarse, "qid", "cid", "s_coarse", shortlist)
      .select("qid", "cid")
    val exact = short.join(cands.floats, "cid")
      .join(broadcast(cands.queries.select("qid", "qv")), "qid")
      .select(col("qid"), col("cid"),
        Similarity.cosineSimilarity(col("qv"), col("cv")).as("cos"))
    BoundedTopK.topK(exact, "qid", "cid", "cos", k)
      .select(col("qid"), col("cid"), round(col("score"), 4).as("cos"),
        col("rank"))
  }
}
