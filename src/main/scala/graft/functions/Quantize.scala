package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Scalar (per-vector min/max) int8 quantization for embedding columns —
 * the storage/IO lever for vector corpora at scale: a 768-d float
 * embedding is 3 KB; its int8 codes + two doubles are ~784 bytes, and an
 * int8 dot-product prefilter reads 4× fewer bytes than the float kernel
 * before an exact float rescore of the shortlist.
 *
 * Everything here is a pure per-row Catalyst HOF projection — shuffle-free,
 * no UDFs — and arithmetic is performed in IEEE double with a FIXED
 * operation order, `(x − min) · 255 / (max − min)`, so any engine
 * computing the same order on the same floats produces bit-identical
 * codes (the oracle gate recomputes them in DuckDB).
 *
 * (North-star extension — SURVEY.md §2.7 family; the reference stores
 * vectors only as f32: `ahnlich/types/src/lib.rs` StoreKey.)
 */
object Quantize {

  /** Int8 codes (as 0..255 longs, the unsigned convention):
    * `q_i = min(255, floor((x_i − mn) · 255 / (mx − mn)))`, where mn/mx
    * are the vector's own min/max. The `min(255, ·)` clamp absorbs the
    * one case where rounding overshoots at x = mx. Constant vectors
    * (mx = mn) quantize to all-zero codes. The double array and its
    * min/max are LET-BOUND so the tokenize-once discipline from
    * [[graft.text.TextOps.ngrams]] holds: without binding, mn/mx would
    * re-reduce the array per element — O(d²) per row. */
  def int8Codes(vec: Column): Column =
    GraftFunctions.bind(transform(vec, _.cast("double"))) { dbl =>
      GraftFunctions.bind(array_min(dbl)) { mn =>
        GraftFunctions.bind(array_max(dbl)) { mx =>
          transform(dbl, x =>
            when(mx === mn, lit(0L)).otherwise(
              least(lit(255.0), floor((x - mn) * 255.0 / (mx - mn)))
                .cast("long")))
        }
      }
    }

  /** The (min, max) dequantization parameters as doubles — stored next to
    * the codes; `x ≈ mn + q · (mx − mn) / 255`. */
  def quantParams(vec: Column): (Column, Column) = {
    val dbl = transform(vec, _.cast("double"))
    (array_min(dbl), array_max(dbl))
  }

  /** Dequantize codes back to doubles (midpoint-free floor convention:
    * error is bounded by one step, (mx − mn) / 255). */
  def dequantize(codes: Column, mn: Column, mx: Column): Column =
    transform(codes, q => mn + q.cast("double") * (mx - mn) / 255.0)

  /** The coarse score: cosine over two quantized vectors, dequantizing
    * INLINE in one fused native codegen'd loop
    * ([[org.apache.spark.sql.graftbridge.Sq8Cosine]]) — bit-identical to
    * `hof.cosineSimilarity(dequantize(a), dequantize(b))` (same per-element
    * operation order, same left folds, same unguarded division — pinned in
    * QuantizeSpec) without that formulation's five interpreted array walks
    * and three intermediate arrays per scored pair. */
  def coarseCosine(codesA: Column, mnA: Column, mxA: Column,
      codesB: Column, mnB: Column, mxB: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, Sq8Cosine}
    ColumnBridge.column(Sq8Cosine(
      ColumnBridge.expression(codesA), ColumnBridge.expression(mnA),
      ColumnBridge.expression(mxA), ColumnBridge.expression(codesB),
      ColumnBridge.expression(mnB), ColumnBridge.expression(mxB)))
  }

  /** Quantized top-k similarity join — the SQ8 two-phase search: a COARSE
    * cosine over the DEQUANTIZED int8 codes ranks the corpus per query, a
    * `shortlist`-deep cut survives, and only the shortlist is RESCORED with
    * the exact float cosine (output contract == [[graft.dedup.Dedup
    * .topKJoin]]: (qid, cid, cos, rank)). Queries broadcast against the
    * whole corpus; the operator is [[graft.ann.TwoPhaseTopK.rescored]],
    * shared with the IVF arm ([[graft.ann.IvfIndex.quantizedTopKJoin]]).
    *
    * Why this is the 100 TB arm of the brute-force join: the coarse pass
    * reads 1 byte/dimension + two doubles instead of 4 bytes/dimension —
    * at scale the corpus scan is IO-bound, so the code column cuts the
    * scanned bytes ~4× — while the float vectors are only materialized for
    * `shortlist` rows per query. (The coarse score must dequantize: a raw
    * integer Σ qa·qb is NOT order-equivalent to the dot product, because
    * each vector's affine (min, scale) differs — the per-candidate offset
    * term corrupts the ranking; measured recall@10 0.66 vs 1.0 on the
    * fixture corpus.) The shortlist is a recall/cost dial: `shortlist =
    * corpus size` degrades to exactly the brute-force result (QuantizeSpec
    * pins that identity); practical settings (e.g. 8·k) trade quantization-
    * bounded recall loss for the IO cut. Both phases are deterministic
    * (fixed-order double math, ties by cid) — an engine-portable pipeline.
    *
    * Query ids must be unique: the broadcast arm does not deduplicate
    * queries, so a duplicated qid ranks the same cid twice. */
  def quantizedTopKJoin(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, shortlist: Int): DataFrame = {
    import graft.ann.TwoPhaseTopK
    TwoPhaseTopK.rescored(TwoPhaseTopK.broadcastPairs(queries, qId, qVec,
      corpus, cId, cVec), TwoPhaseTopK.sq8, k, shortlist)
  }
}
