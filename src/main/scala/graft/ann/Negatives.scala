package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/**
 * Hard-negative mining for contrastive training (the DPR / FaceNet /
 * SimCSE data-prep staple; an extension beyond the reference's surface —
 * its GetSimN is single-query, unlabeled: `ahnlich/db/src/engine/
 * store.rs:290-398`). For every query vector: the k most-similar corpus
 * vectors with a DIFFERENT label ("hard negatives" — the confusable
 * examples a contrastive loss learns most from), plus the query's best
 * same-label cosine (`pos_cos`, the positive anchor) so callers can apply
 * the semi-hard rule (keep negatives less similar than the positive) as a
 * plain filter on the output instead of a second mining pass.
 *
 * Scale shape: the query side is the bounded one (a training batch / a
 * sampled anchor set) — it broadcasts; the corpus STREAMS through two
 * scans (negatives, positive anchors), never materializing the N×M score
 * matrix. The negatives arm folds scored pairs into bounded per-task
 * heaps ([[BoundedTopK]] — shuffle carries ≤ tasks × queries × k rows,
 * never the product); the positives arm is a map-side-combined max per
 * qid (G rows out). Both-sides-large: [[IvfIndex.hardNegatives]] takes its
 * pairs from the IVF cell probe instead of the broadcast cross-join
 * ([[TwoPhaseTopK]]'s two generators) and runs the same miner tail.
 *
 * `semi_hard` compares ROUNDED (4 dp) cosines: the flag must be decided on
 * the same numbers the output reports (and the oracle replays), not on
 * sub-rounding float noise.
 */
object Negatives {

  /** Mine hard negatives: (qid, cid, neg_cos, pos_cos, rank, semi_hard),
    * rank 1..k by cosine descending (cid ascending on ties) over corpus
    * rows whose `cLabel` differs from the query's `qLabel`. `pos_cos` is
    * the query's max cosine to a same-label, different-id corpus row
    * (NULL when the query's label has no other member — then `semi_hard`
    * is NULL too, never a fabricated flag). Self-pairs (same id) are
    * excluded from both arms.
    *
    * NULL labels fail LOUDLY on either side (in-plan raise_error, the
    * corpusDiff/writePartitioned discipline): both arms filter on label
    * equality, so a NULL-labeled row would silently vanish from the
    * output — neither a negative nor a positive — which is row loss, not
    * semantics. Assign real labels (or filter explicitly) first.
    *
    * Query ids must be unique: the broadcast arm does not deduplicate
    * queries, so a duplicated qid ranks the same cid twice. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, qLabel: String,
      cId: String, cVec: String, cLabel: String, k: Int): DataFrame =
    mine(TwoPhaseTopK.broadcastPairs(queries, qId, qVec, corpus, cId, cVec,
      Seq(col(qLabel).as("ql")), Seq(col(cLabel).as("cl"))), qLabel, cLabel, k)

  /** The miner tail over any [[TwoPhaseTopK.Candidates]] carrying labels
    * `ql` / `cl` (named `qLabel` / `cLabel` in the caller's frames, for the
    * error message): self-pairs dropped, the anchor max over same-label
    * pairs (partial max map-side — the shuffle carries one row per query),
    * the negatives through the bounded per-task fold over different-label
    * pairs (never a window sort of the pair table — the measured cliff is
    * in SCALE.md), the anchor re-joined broadcast, `semi_hard` on the
    * rounded cosines. Both arms ([[hardNegatives]], [[IvfIndex
    * .hardNegatives]]) run this, so both get the NULL-label guard. */
  private[ann] def mine(cands: TwoPhaseTopK.Candidates, qLabel: String,
      cLabel: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val scored = cands.pairs(
        Seq(col("qv"), requireLabel(col("ql"), qLabel, "query").as("ql")),
        Seq(col("cv"), requireLabel(col("cl"), cLabel, "corpus").as("cl")))
      .where(col("qid") =!= col("cid"))
      .withColumn("cos", Similarity.cosineSimilarity(col("qv"), col("cv")))
    val pos = scored.where(col("cl") === col("ql"))
      .groupBy("qid").agg(max(col("cos")).as("pc"))
    val negs = BoundedTopK.topK(
      scored.where(col("cl") =!= col("ql")).select("qid", "cid", "cos"),
      "qid", "cid", "cos", k)
    negs.join(broadcast(pos), Seq("qid"), "left")
      .select(col("qid"), col("cid"),
        round(col("score"), 4).as("neg_cos"),
        round(col("pc"), 4).as("pos_cos"),
        col("rank"),
        (round(col("score"), 4) < round(col("pc"), 4)).as("semi_hard"))
  }

  /** In-plan NULL-label guard: the label value, or raise_error on NULL.
    * Riding inside the projected column (not a dropped check column, which
    * the optimizer would prune away) guarantees the probe runs exactly
    * where the label is read. */
  private def requireLabel(c: Column, labelCol: String, side: String): Column =
    when(c.isNull, raise_error(lit(
      s"hardNegatives: NULL $side label ($labelCol) — a NULL-labeled row " +
        "would silently vanish from both arms; assign or filter first")))
      .otherwise(c)
}
