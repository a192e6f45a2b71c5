package graft.ann

import java.util.Arrays

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Similarity
import graft.types.{Algorithm, NonLinearConfig}

/**
 * Coarse-ROUTED sharded HNSW — the 100 TB read path for GetSimN-shaped
 * single-query search. The reference searches one HNSW graph on one node
 * (`ahnlich/similarity/src/hnsw/index.rs`); [[AnnIndex]] distributes that
 * as hash-sharded per-partition graphs, but hash shards are statistically
 * identical samples of the corpus, so EVERY query must fan out to EVERY
 * shard and per-query work grows linearly with shard count — fine at 16
 * shards, the open scale story at thousands.
 *
 * This index closes it by borrowing IVF's routing layer (the IVF-HNSW
 * composition of Jégou et al. 2011 §V / FAISS's IVF-with-HNSW-cells):
 * shard assignment is CONTENT-based — k-means centroids trained by the
 * same Lloyd loop as [[IvfIndex]] ([[IvfIndex.trainCentroids]], one code
 * path), each row lives in the shard of its nearest centroid, one HNSW
 * graph per shard. A query ranks the R centroids on the driver (R is
 * small; same `sqEuclidean` routing as [[IvfIndex.probeCells]] — the
 * assignment geometry) and searches only the `probes` nearest shards via
 * a partition-pruned job: per-query work is probes/R of the all-shard
 * fan-out, independent of R. probes = R is EXHAUSTIVE and equals the
 * all-shard merge (the correctness identity the oracle gate pins);
 * smaller probes trades recall for scan fraction exactly like IVF's
 * nProbe — the recall curve at 200k × 64 shards is measured in
 * ScaleRecall and recorded in SCALE.md.
 *
 * Mutation story — LSM tiers against frozen routing centroids (the
 * memtable-beside-immutable-index pattern; the reference mutates its one
 * graph in place via back-links, `similarity/src/hnsw/index.rs`, which a
 * distributed frozen-shard layout can't do row-by-row):
 *  - INSERTS [[append]]: new rows overlay their assigned shard as exact
 *    brute-force tails ([[PatchedShard]]) — work ∝ batch; past the
 *    patch-fraction guard the touched shards COMPACT locally (graph
 *    rebuild from own rows, no Lloyd, no shuffle); a drifted batch
 *    (assignment objective beyond the build baseline) refuses and the
 *    caller RECLUSTERS — the ScaleStaleness-derived trigger.
 *  - DELETES [[delete]]: deleted ids join a TOMBSTONE set filtered out of
 *    every search/join/extraction (ids are content hashes, so a
 *    re-inserted id is the same vector — [[append]] clears its tombstone
 *    and any stale graph copy becomes valid again). Past the
 *    tombstone-fraction guard (or the absolute cap that bounds the
 *    filter's task-closure size) the shards that actually hold deleted
 *    rows compact locally — same no-Lloyd, no-shuffle rebuild as the
 *    insert side.
 *  - Only a centroid-invalidating event (drift guard, or a caller that
 *    can't name the touched ids) pays the full recluster.
 */
final class RoutedAnnIndex(
    val centroids: Array[Array[Float]],
    val config: NonLinearConfig.HNSWConfig,
    val shards: RDD[AnnShard],
    val replicationEps: Double = 0.0,
    val iters: Int = 2,
    val maxReplicas: Int = 2,
    /** Build-time assignment objective: mean squared distance of build
      * rows to their assigned centroid — the drift baseline appends are
      * checked against (0 = unknown, every guard passes). */
    val meanAssignDist: Double = 0.0,
    /** Rows living in append overlays ([[PatchedShard]] tails) rather
      * than graphs — the compaction pressure gauge. */
    val patchedRows: Long = 0L,
    /** Deleted content ids, sorted ascending — filtered out of every
      * search / join / row extraction until a compaction physically
      * removes them. Bounded by the [[delete]] guards. */
    val tombstones: Array[Long] = Array.emptyLongArray,
    /** Total rows PHYSICALLY stored across shard structures — input rows
      * × the boundary replication factor, graphs plus overlay tails,
      * INCLUDING tombstoned rows (they occupy graph nodes until a
      * compaction removes them). Carried incrementally like
      * [[patchedRows]] (append: +batch; tombstone delete: unchanged) and
      * re-derived from the shards only where a compaction physically
      * rewrote them — the steady-state CDC maintenance path pays zero
      * extra jobs for the guard checks that read it (round-13 verdict
      * item: the per-call distributed count was one scheduler round-trip
      * per micro-batch). −1 = unknown (legacy manifests), re-measured
      * lazily on first use. */
    private val storedRowsIn: Long = -1L,
    /** Measured recall-vs-probes curves from [[calibrate]], one per
      * calibrated serving k, ascending by k; each curve is (probes,
      * mean recall@k, standard error of the mean), ascending by probes;
      * empty until calibrated. Recall@k is k-dependent — at fixed
      * probes, recall@100 < recall@3 (more of a deeper true top-k lives
      * in unprobed shards) — so a curve only answers floors for requests
      * at n ≤ its k (the measured monotonicity, ScaleCalibrate k-ladder
      * table); [[probesForN]] selects the tightest qualifying curve and
      * widens to exhaustive when none covers n. The stderr is what makes
      * a curve an honest instrument: a 100-query sample estimates the
      * steep part to ~±1pt (measured at 200k — two disjoint
      * same-distribution samples differed by 1.1pt at the 8/64 point,
      * ScaleCalibrate/SCALE.md), so selection defaults to the one-sided
      * lower confidence bound instead of the point estimate. Carried
      * through append/compact/delete (tails are exact and survivor recall
      * is delete-invariant — the measured SCALE.md facts); a RECLUSTER
      * starts empty (new centroids = a new operating curve). */
    val recallCurves: Array[(Int, Array[(Int, Double, Double)])] = Array.empty,
    /** Fingerprint of the query sample the curves were measured on
      * ("" = uncalibrated): "ext:<hash64>" for a caller-supplied workload
      * sample, "self:<hash64>" for stored-row self-samples. Persisted
      * beside the curves; reuse sites ([[graft.dsl.Pipeline]]'s RECALL
      * arms) compare their own candidate sample's fingerprint and WARN —
      * or recalibrate, under `spark.graft.strictCalibrationReuse` — on
      * mismatch, instead of silently serving a curve measured on a
      * different workload (round-14 advice, made structural). */
    val workloadFp: String = "",
    /** Node storage in the shard graphs ([[NodeStorage]]): float32 (the
      * reference layout), SQ8 int8 codes (~1/4 the vector bytes) or PQ
      * codebook indices (m bytes/vector — the byte-budget end; the
      * trained codebook rides here). The 100 TB memory lever: graphs
      * built and traversed on the stored form, exact ranking restored by
      * the downstream shortlist rescore ([[topKJoinRescored]] / engine
      * hydration) at the storage's [[NodeStorage.rescoreSlack]]. Part of
      * artifact identity (a float artifact never loads into a quantized
      * config or vice versa), and [[calibrate]] answers for the quantized
      * path (ground truth from the EXACT corpus — the IvfSpec SQ8-arm
      * provenance rule). Overlay tails stay float (exact, bounded by the
      * patch guard — the LSM memtable analog: memtables uncompressed,
      * SSTables compressed); they encode when compaction folds them into
      * a graph. */
    val storage: NodeStorage = NodeStorage.F32) extends Serializable {

  def numShards: Int = centroids.length

  /** Any non-float node storage: shard scores are then approximate and
    * final ranking comes from the exact rescore. */
  def quantized: Boolean = storage != NodeStorage.F32

  /** The storage's identity spec (what a caller names at build/load). */
  def spec: StorageSpec = storage.spec

  /** The smallest calibrated serving k (0 = uncalibrated) — the primary
    * operating point, and the k [[recallCurve]] reports. */
  def recallK: Int =
    if (recallCurves.isEmpty) 0 else recallCurves.iterator.map(_._1).min

  /** The largest calibrated serving k (0 = uncalibrated): requests at
    * n ≤ this can serve pruned probes off a measured curve. */
  def maxRecallK: Int =
    if (recallCurves.isEmpty) 0 else recallCurves.iterator.map(_._1).max

  /** The primary (smallest-k) measured curve — the single-curve view
    * consumers calibrated at one k read. */
  def recallCurve: Array[(Int, Double, Double)] =
    recallCurves.sortBy(_._1).headOption.map(_._2)
      .getOrElse(Array.empty[(Int, Double, Double)])

  /** Tombstone-aware accept function composed with an optional caller
    * filter; null when nothing filters (the no-overhead fast path). */
  private def acceptOf(filter: IdFilter): Long => Boolean =
    RoutedAnnIndex.composeAccept(tombstones, filter)

  /** Batch k-NN JOIN through the routed shards — the both-sides-large
    * twin of the single-query [[search]] (and the graph-speed sibling of
    * [[IvfIndex.topKJoin]]'s cell scan): each query row is ranked against
    * the routing centroids ONCE (one native CentroidDists pass, the
    * assignment geometry), exploded to its `probes` nearest shards, and
    * the query rows — the SMALL side — are shuffled to the shard
    * partitions where the graphs already live; per partition each query
    * runs the shard's HNSW search. The corpus never moves, matched work
    * is |queries| × probes graph searches, and probes = numShards is the
    * exhaustive all-shard merge (the correctness identity; pruned probes
    * trade recall exactly like [[search]]). Returns (qid, cid, sim, rank)
    * ranked by closeness under the index metric, ties on cid — the
    * [[IvfIndex.topKJoin]] contract, including its `sim` convention:
    * similarity for cosine/dot, positive euclidean DISTANCE for
    * EuclideanDistance-metric indexes (ranking is by closeness either
    * way, so the rank column is metric-faithful).
    *
    * `filter` (round-14): an optional broadcast-safe [[IdFilter]] composed
    * with the tombstone set inside every shard search — the batch twin of
    * [[search]]'s accept filter, so a decontaminate / hard-negatives
    * composition over a predicate slice can use the graph-speed arm
    * instead of falling back to a filtered brute-force join. The filter
    * runs IN-graph (rejected nodes stay stepping stones — the HNSW
    * in-filtering rule), so callers with a sketch-backed filter (Bloom)
    * post-verify matches exactly, as AnnSearch's hydration does.
    *
    * SHARP filters AUTO-CUTOVER (round 15, closing the round-14 manual
    * seam): when the filter's known cardinality ([[IdFilter.Bloom]]'s
    * `expected`) is below [[RoutedAnnIndex.FilteredScanFraction]] of the
    * stored rows, the join stops riding the graphs entirely and instead
    * scans the accepted SLICE exactly in every shard — the batch twin of
    * the engine's single-query ≤4096 brute-force cutover. Measured basis
    * (ScaleJoin filtered, SCALE.md): in-graph recall at pruned probes
    * DEGRADES as the filter sharpens (a sparse accept set starves the
    * beam — 0.96 at 1/2 selectivity vs 0.83 at 1/100, p=8/64 at 200k)
    * while the slice itself shrinks toward scannable, so below the
    * threshold the scan wins on BOTH axes; broad filters keep the
    * in-graph arm (at corpus scale their slice is too large to score per
    * query batch). Filters with unknown cardinality ride the graph arm
    * as requested — pass the count you sized the Bloom with. */
  def topKJoin(queries: DataFrame, qId: String, qVec: String, k: Int,
      probes: Int, filter: IdFilter = null): DataFrame = {

    val spark = queries.sparkSession
    // sharp-filter cutover: known accept cardinality below the measured
    // fraction of LIVE LOGICAL rows → exact slice scan at all shards.
    // `expected` counts distinct accepted ids, so the denominator must
    // too: physical storedRows over-counts boundary replicas (divide by
    // the worst-case factor — conservative, the cutover under-triggers)
    // and tombstoned rows (subtract; they can never be accepted results)
    val scanSlice = filter match {
      case IdFilter.Bloom(_, expected) if expected >= 0L =>
        val logical = liveLogicalRows
        val sharp = logical > 0 &&
          expected <= RoutedAnnIndex.FilteredScanFraction * logical
        if (sharp) org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"RoutedAnnIndex.topKJoin: filter expects $expected of ~$logical " +
            s"live rows (< ${RoutedAnnIndex.FilteredScanFraction}) — " +
            "scanning the accepted slice exactly instead of the graphs")
        sharp
      case _ => false
    }
    val p = if (scanSlice) numShards
      else math.max(1, math.min(probes, numShards))
    val q = queries.select(col(qId).cast("long").as("qid"),
        col(qVec).cast("array<float>").as("qv"))
      .groupBy("qid").agg(min(col("qv")).as("qv"))
    val ranked = IvfIndex.cellRank(col("qv"), centroids, p)
    val routed = q.select(explode(ranked).as("_p"), col("qid"), col("qv"))
      .select(col("_p.c").cast("int").as("_s"), col("qid"), col("qv"))
    val byShard = routed
      .rdd.map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Float](2).toArray)))
      .partitionBy(new RoutedAnnIndex.ShardPartitioner(numShards))
      .mapPartitions(it => Iterator.single(it.map(_._2).toArray),
        preservesPartitioning = true)
    // acceptOf closes over the tombstone array + filter only (both
    // serializable), so the composed function ships once per task —
    // ONE composition site with the single-query path
    val accept = acceptOf(filter)
    val metric = config.metric // capture: the task closure must not drag `this`
    val kk = k
    val hits = shards.zipPartitions(byShard, preservesPartitioning = false) {
      (sIt, qIt) =>
        val qs = qIt.next()
        sIt.toSeq.headOption match {
          case None => Iterator.empty
          case Some(shard) if scanSlice =>
            // exact scan of the accepted slice: filter ONCE per shard per
            // batch, on the id BEFORE decoding (rejected rows are never
            // exported; distances are paid only on accepted rows), then a
            // bounded k-heap per query — the calibrate ground-truth
            // pattern. Scores are the stored form (exported floats — exact
            // under f32; dequantized/decoded under SQ8/PQ, restored
            // downstream by the rescore, exactly like graph scores)
            val rows = RoutedAnnIndex.acceptedRowsOf(shard, accept).toArray
            val ord = Ordering.by[(Double, Long), (Double, Long)] {
              case (c, id) => (-c, id)
            }
            qs.iterator.flatMap { case (qid, v) =>
              val h = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
              var i = 0
              while (i < rows.length) {
                val e = (RoutedAnnIndex.closenessOf(metric, v, rows(i)._2),
                  rows(i)._1)
                if (h.size < kk) h.enqueue(e)
                else if (ord.lt(e, h.head)) { h.dequeue(); h.enqueue(e) }
                i += 1
              }
              h.iterator.map { case (c, id) => (qid, id, c) }
            }
          case Some(shard) => qs.iterator.flatMap { case (qid, v) =>
            shard.topK(v, k, accept).map { case (cid, c) => (qid, cid, c) }
          }
        }
    }
    import spark.implicits._
    val scored = hits.toDF("qid", "cid", "_closeness")
      // replicas can surface from several probed shards — keep one (hash
      // aggregate with map-side combine; cheap, and it guarantees the
      // bounded fold below never sees a duplicate cid)
      .groupBy("qid", "cid").agg(max(col("_closeness")).as("_closeness"))
    // bounded per-task fold for the final rank — the candidate table is
    // |q|·probes·k rows (80M at 100k queries), and window-sorting it was
    // most of the super-linear growth ScaleJoin measured (SCALE.md r13)
    val top = BoundedTopK.topK(scored, "qid", "cid", "_closeness", k)
    // closeness is the shard ordering (-sqEuclidean under the euclidean
    // metric); `sim` reports the IvfIndex convention — positive distance
    val simExpr = config.metric match {
      case Algorithm.EuclideanDistance => sqrt(-col("score"))
      case _ => col("score")
    }
    top.select(col("qid"), col("cid"),
      round(simExpr.cast("float").cast("double"), 4).as("sim"),
      col("rank"))
  }

  /** [[topKJoin]] with an EXACT float rescore of a `shortlist`-deep
    * candidate cut — the two-phase pattern quantized shards require for
    * exact final ranking ([[graft.functions.Quantize.quantizedTopKJoin]]'s
    * shape, stacked on the graph search instead of a corpus scan): the
    * graph pass ranks on stored-form scores (quantized under SQ8),
    * `shortlist` candidates per query survive, and only those re-attach
    * their float vectors from `exact` (an (id, key) frame — at cluster
    * scale the store's parquet, here the engine's cached df; the join is
    * shortlist-bounded, ids-only discipline). Works on float indexes too
    * (the rescore is then a no-op re-ranking of identical scores). Output
    * contract == [[topKJoin]]; `sim` is the EXACT score. shortlist ≤ 0
    * defaults to k + the storage's [[NodeStorage.rescoreSlack]] (floored
    * at [[RoutedAnnIndex.RescoreSlack]]) — the engine hydration slack,
    * so the calibrated curve answers for the served path; PQ's wider
    * coarse error gets the wider default automatically. */
  def topKJoinRescored(queries: DataFrame, qId: String, qVec: String,
      k: Int, probes: Int, exact: DataFrame,
      shortlist: Int = 0, filter: IdFilter = null): DataFrame = {
    val sl = if (shortlist > 0) shortlist
      else k + math.max(RoutedAnnIndex.RescoreSlack, storage.rescoreSlack)
    require(sl >= k, s"shortlist ($sl) must be >= k ($k)")
    val short = topKJoin(queries, qId, qVec, sl, probes, filter)
      .select("qid", "cid")
    val q = queries.select(col(qId).cast("long").as("qid"),
        col(qVec).cast("array<float>").as("qv"))
      .groupBy("qid").agg(min(col("qv")).as("qv"))
    val metric = config.metric
    // no broadcast HINT on the query side: calibration passes ~100 rows
    // (AQE broadcasts those on its own) but a production batch join can
    // carry millions of query vectors — a forced broadcast would be the
    // scale hazard this arm exists to avoid; the join keys on qid, so
    // the shuffle is shortlist-bounded on the left and |q| on the right
    val scored = short
      .join(exact.select(col("id").cast("long").as("cid"),
        col("key").cast("array<float>").as("cv")), "cid")
      .join(q, "qid")
      .select(col("qid"), col("cid"),
        Similarity.closeness(metric, col("cv"), col("qv")).as("_c"))
      // the caller-supplied `exact` frame can be a user view with
      // duplicate ids (the DSL TOPK corpus arm) — a duplicated cid would
      // rank twice below where topKJoin's merge dedups; collapse here
      // (shortlist-bounded, never a corpus-wide dropDuplicates)
      .groupBy("qid", "cid").agg(max(col("_c")).as("_c"))
    val top = BoundedTopK.topK(scored, "qid", "cid", "_c", k)
    val sim = metric match {
      case Algorithm.CosineSimilarity | Algorithm.DotProductSimilarity |
           Algorithm.HNSW => col("score")
      case _ => -col("score")
    }
    top.select(col("qid"), col("cid"),
      round(sim.cast("float").cast("double"), 4).as("sim"), col("rank"))
  }

  import RoutedAnnIndex.Maintained

  /** Append rows WITHOUT reclustering: assign to the FROZEN centroids
    * (the training kernel), overlay each touched shard with an exact
    * brute-force tail ([[PatchedShard]]) — work ∝ batch size, the old
    * index stays valid until the new one is materialized, and appended
    * rows are scored exactly (never an approximation downgrade).
    * Re-appended TOMBSTONED ids come back to life: their tombstone is
    * cleared (a content id names one immutable vector, so any stale graph
    * copy carries identical data and the merge dedupes by id).
    *
    * Guards, both derived from the measured ScaleStaleness curve
    * (SCALE.md):
    *  - DRIFT: the batch's mean assignment distance exceeds
    *    `driftLimit` × the build-time objective — distribution shift is
    *    what decays frozen-centroid recall, so this returns None and the
    *    caller RECLUSTERS (fresh Lloyd over everything);
    *  - PATCH FRACTION: overlay rows would exceed `patchLimit` of the
    *    pure GRAPH rows (stored rows minus existing tails). Volume alone
    *    costs no recall (the measured in-dist rows), so this COMPACTS
    *    instead of refusing: each shard holding tails or new rows is
    *    rebuilt locally from its own rows ∪ tails ∪ batch — no Lloyd,
    *    and NO shuffle of existing rows (assignments are frozen, rows
    *    never change shards); untouched tail-free shards are reused
    *    as-is — the LSM memtable-flush analog. The compacted graph is
    *    bit-identical to one built over the union (id-ascending insertion
    *    both ways). Tombstoned rows stay in the rebuilt graphs (the
    *    tombstone filter still hides them); physical removal is
    *    [[delete]]-side compaction's job.
    * Under boundary replication (replicationEps > 0) appended rows are
    * SINGLE-assigned — they regain replica copies at the next recluster;
    * compaction rebuilds each shard locally, so existing replicas stay
    * where they are. */
  def appendOutcome(dfIn: DataFrame,
      driftLimit: Double = RoutedAnnIndex.DefaultDriftLimit,
      patchLimit: Double = RoutedAnnIndex.DefaultPatchLimit): Option[Maintained] = {
    import org.apache.spark.sql.graftbridge.{CentroidDists, ColumnBridge}
    // one row per id: a duplicated id in the batch would store twice in
    // an overlay tail (wasteful; the merges dedupe) but once in a
    // fresh-shard graph rebuild (insertPayload skips dupes), so the
    // carried storedRows could diverge from the physical count — dedup
    // up front and both branches agree with +nNew (review round 14)
    val df = dfIn.select(col("id").cast("long").as("id"), col("key"))
      .dropDuplicates("id")
    val dists = ColumnBridge.column(CentroidDists(
      ColumnBridge.expression(col("key")), centroids.flatten, numShards))
    // one pass: per-row (nearest shard, min distance); agg gives the
    // batch objective and count, rows stay for the shard shuffle
    val assigned = df.select(
        IvfIndex.assignCell(col("key"), centroids).cast("int").as("_s"),
        array_min(dists).as("_d"), col("id"), col("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // count, drift objective, the touched-shard set AND the cleared
      // tombstones in ONE aggregate job (r18, guide §1.2 / VERDICT r17
      // item 4 count-fusion): the distinct-shards collect and — when the
      // index carries tombstones — the resurrection scan (an RDD
      // map/filter/distinct, i.e. a second job WITH a shuffle per
      // micro-batch append) were separate scheduler round-trips.
      // collect_set(_s) is bounded by numShards; collect_set of the
      // tombstone hits is bounded by the tombstone cap (≤ 2^18), and the
      // membership test ships the same sorted-array closure the dropped
      // RDD job shipped.
      val ts = tombstones
      val tsHit = udf((id: Long) => Arrays.binarySearch(ts, id) >= 0)
      val aggs = Seq(count(lit(1)), avg(col("_d")), collect_set(col("_s"))) ++
        (if (ts.isEmpty) Nil
         else Seq(collect_set(when(tsHit(col("id")), col("id")))))
      val agg = assigned.agg(aggs.head, aggs.tail: _*).head()
      val nNew = agg.getLong(0)
      if (nNew == 0) return Some(Maintained(this, "append", Set.empty))
      val batchObj = agg.getDouble(1)
      if (meanAssignDist > 0.0 && batchObj > driftLimit * meanAssignDist) {
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          f"RoutedAnnIndex.append: drift guard tripped " +
            f"(batch objective $batchObj%.4f > $driftLimit%.1fx build " +
            f"$meanAssignDist%.4f) — recluster")
        return None
      }
      // the batch's distinct target shards (bounded by numShards) — the
      // artifact-refresh set the caller writes back
      val touched = agg.getSeq[Int](2).toSet
      // a re-appended tombstoned id is live again (same content id = the
      // same vector)
      val newTombstones: Array[Long] =
        if (ts.isEmpty) tombstones
        else {
          val cleared = agg.getSeq[Long](3).toSet
          if (cleared.isEmpty) tombstones else ts.filterNot(cleared)
        }
      // pure graph rows: stored minus the rows already living in overlay
      // tails — the guard bounds the TAIL scan cost as a fraction of the
      // graph structures it rides beside
      val graphRows = storedRows - patchedRows
      val compacting =
        graphRows > 0 && patchedRows + nNew > patchLimit * graphRows
      if (compacting)
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"RoutedAnnIndex.append: ${patchedRows + nNew} overlay rows > " +
            s"$patchLimit of $graphRows graph rows — compacting (local " +
            s"per-shard graph rebuilds, no shuffle of existing rows, " +
            s"centroids frozen)")
      // compaction also rebuilds the shards whose tails predate this batch
      val tailShards: Set[Int] =
        if (!compacting) Set.empty
        else shards.mapPartitionsWithIndex((i, it) =>
          it.collect { case _: PatchedShard => i }).collect().toSet
      val metric = config.metric
      val cfg = config
      val st = storage
      val dim = centroids.head.length
      val byShard = assigned
        .select(col("_s"), col("id"), col("key"))
        .rdd.map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Float](2).toArray)))
        .partitionBy(new RoutedAnnIndex.ShardPartitioner(numShards))
        .mapPartitions(it => Iterator.single(it.map(_._2).toArray.sortBy(_._1)),
          preservesPartitioning = true)
      val newShards = shards.zipPartitions(byShard, preservesPartitioning = true) {
        (sIt, aIt) =>
          val extra = aIt.next()
          val base = sIt.toSeq.headOption
          // rows rebuild in STORED form (VecPayload): existing quantized
          // nodes carry their codes verbatim — zero re-encode drift —
          // while the batch's float rows encode exactly once
          def rebuilt(rows: Iterator[(Long, VecPayload)]): AnnShard = {
            val idx = HnswIndex(dim, cfg, st)
            rows.toArray.sortBy(_._1).foreach { case (id, p) =>
              idx.insertPayload(id, p) }
            new HnswShard(idx, cfg.efSearch)
          }
          if (compacting) base match {
            // tail-free shard with nothing to absorb: reuse the graph
            case Some(b) if extra.isEmpty && !b.isInstanceOf[PatchedShard] =>
              Iterator(b)
            case _ =>
              val all = base.map(RoutedAnnIndex.payloadsOf).getOrElse(Iterator.empty) ++
                extra.iterator.map { case (id, v) => (id, VecPayload.F32(v)) }
              if (all.isEmpty) Iterator.empty else Iterator(rebuilt(all))
          }
          else if (extra.isEmpty) base.iterator
          else base match {
            case Some(b) => Iterator(new PatchedShard(b, extra.map(_._1),
              extra.map(_._2), metric): AnnShard)
            case None => Iterator(rebuilt( // first rows here
              extra.iterator.map { case (id, v) => (id, VecPayload.F32(v)) }))
          }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      newShards.count() // materialize before releasing the predecessor
      shards.unpersist(blocking = false)
      // compaction may shrink physical rows (a tailed duplicate of a graph
      // id folds to one node), so only that branch re-derives the count —
      // the metadata job is noise beside the rebuild it rides; the
      // steady-state overlay append carries +nNew for free
      val next = new RoutedAnnIndex(centroids, config, newShards,
        replicationEps, iters, maxReplicas, meanAssignDist,
        if (compacting) 0L else patchedRows + nNew, newTombstones,
        if (compacting) RoutedAnnIndex.countStoredRows(newShards)
        else storedRows + nNew,
        recallCurves, workloadFp, storage)
      Some(Maintained(next, if (compacting) "compact" else "append",
        if (compacting) touched ++ tailShards else touched))
    } finally assigned.unpersist(blocking = false)
  }

  /** [[appendOutcome]] without the maintenance metadata — the
    * spec/measurement-harness form. */
  def append(dfIn: DataFrame,
      driftLimit: Double = RoutedAnnIndex.DefaultDriftLimit,
      patchLimit: Double = RoutedAnnIndex.DefaultPatchLimit): Option[RoutedAnnIndex] =
    appendOutcome(dfIn, driftLimit, patchLimit).map(_.index)

  /** Delete rows WITHOUT reclustering: the ids join the tombstone set and
    * every search / join / extraction filters them (work ≈ 0; recall of
    * the survivors is untouched — the graphs still route through
    * tombstoned nodes, they just can't be results). Routing geometry
    * never changes on delete (centroids describe where rows LIVE, and
    * survivors don't move), so there is no drift guard — only cost
    * guards:
    *  - FRACTION: tombstones beyond `tombstoneLimit` of stored rows mean
    *    a growing slice of graph traversal is wasted on dead nodes;
    *  - ABSOLUTE: `maxTombstones` bounds the sorted-array filter shipped
    *    in every search task closure (8 B/id) and the manifest entry.
    * Either guard routes to LOCAL COMPACTION: one bounded scan finds the
    * shards physically holding deleted rows, only those rebuild (own rows
    * minus tombstones — no Lloyd, no shuffle; their overlay tails fold in
    * and [[patchedRows]] drops accordingly), and the tombstone set
    * resets. A tombstone-only delete SHARES the predecessor's shard RDD —
    * do not unpersist the old handle separately. */
  def delete(idsIn: Seq[Long],
      tombstoneLimit: Double = RoutedAnnIndex.DefaultTombstoneLimit,
      maxTombstones: Int = RoutedAnnIndex.DefaultMaxTombstones): Maintained = {
    val merged = (tombstones ++ idsIn).distinct.sorted
    if (merged.length == tombstones.length)
      return Maintained(this, "tombstone", Set.empty) // nothing new to hide
    val total = storedRows
    if (merged.length <= maxTombstones &&
        (total == 0 || merged.length <= tombstoneLimit * total))
      return Maintained(
        new RoutedAnnIndex(centroids, config, shards, replicationEps, iters,
          maxReplicas, meanAssignDist, patchedRows, merged, storedRows,
          recallCurves, workloadFp, storage),
        "tombstone", Set.empty)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"RoutedAnnIndex.delete: ${merged.length} tombstones vs $total stored " +
        s"rows exceeds limit=$tombstoneLimit/cap=$maxTombstones — " +
        s"compacting the shards holding deleted rows (local rebuilds, " +
        s"no Lloyd, no shuffle)")
    val ts = merged
    // pass 1 (bounded scan): which shards physically hold deleted rows,
    // and how many overlay-tail rows each carries (for patchedRows)
    val affected: Map[Int, Long] = shards.mapPartitionsWithIndex { (i, it) =>
      it.flatMap { s =>
        // ids-only membership scan: the float export would dequantize +
        // allocate a vector per row on SQ8 shards just to read the id
        if (RoutedAnnIndex.idsOf(s).exists(id =>
            Arrays.binarySearch(ts, id) >= 0))
          Iterator((i, RoutedAnnIndex.tailRowsOf(s)))
        else Iterator.empty
      }
    }.collect().toMap
    if (affected.isEmpty) // every id was already absent: drop the set
      return Maintained(
        new RoutedAnnIndex(centroids, config, shards, replicationEps, iters,
          maxReplicas, meanAssignDist, patchedRows, Array.emptyLongArray,
          storedRows, recallCurves, workloadFp, storage),
        "tombstone", Set.empty)
    val cfg = config
    val st = storage
    val dim = centroids.head.length
    val hit = affected.keySet
    val newShards = shards.mapPartitionsWithIndex({ (i, it) =>
      if (!hit.contains(i)) it
      else it.flatMap { s =>
        // survivors rebuild in STORED form — quantized nodes keep their
        // codes, no re-encode drift (the appendOutcome compaction rule)
        val live = RoutedAnnIndex.payloadsOf(s)
          .filter(r => Arrays.binarySearch(ts, r._1) < 0)
          .toArray.sortBy(_._1)
        if (live.isEmpty) Iterator.empty
        else {
          val idx = HnswIndex(dim, cfg, st)
          live.foreach { case (id, p) => idx.insertPayload(id, p) }
          Iterator(new HnswShard(idx, cfg.efSearch): AnnShard)
        }
      }
    }, preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
    newShards.count() // materialize before releasing the predecessor
    shards.unpersist(blocking = false)
    Maintained(
      new RoutedAnnIndex(centroids, config, newShards, replicationEps, iters,
        maxReplicas, meanAssignDist,
        math.max(0L, patchedRows - affected.values.sum), Array.emptyLongArray,
        RoutedAnnIndex.countStoredRows(newShards), recallCurves, workloadFp, storage),
      "compact", hit)
  }

  /** Total rows PHYSICALLY stored across shard structures — input rows ×
    * the boundary replication factor, graphs plus overlay tails,
    * INCLUDING tombstoned rows (they occupy graph nodes until a
    * compaction removes them). */
  def storedRows: Long = storedRowsLazy

  /** Distinct LIVE logical rows — physical stored rows minus tombstones,
    * divided by the worst-case boundary replication factor: the
    * denominator of every selectivity cutover ([[topKJoin]]'s sharp-filter
    * rule and the single-query [[graft.ann.AnnSearch]] three-way dispatch).
    * Conservative in the safe direction: dividing by the MAX replica
    * factor under-counts live rows, so a fraction cutover under-triggers
    * (a borderline filter rides the graphs rather than over-claiming the
    * scan). */
  def liveLogicalRows: Long = {
    val replicaFactor = if (replicationEps > 0.0) maxReplicas else 1
    math.max(0L, storedRows - tombstones.length) / replicaFactor
  }

  /** The carried count when known, else (legacy manifests only) derived
    * once from the shards. */
  @transient private lazy val storedRowsLazy: Long =
    if (storedRowsIn >= 0L) storedRowsIn
    else RoutedAnnIndex.countStoredRows(shards)

  /** The shard-derived count, always measured — the spec's equivalence
    * probe for the carried field (RoutedAnnSpec asserts they agree after
    * every maintenance tier). */
  private[ann] def measuredStoredRows: Long =
    RoutedAnnIndex.countStoredRows(shards)

  def unpersist(): Unit = shards.unpersist(blocking = false)

  /** Every LIVE stored (id, vector) row — graphs and overlay tails,
    * minus tombstones, deduped by id (boundary replication stores
    * copies). The extraction path for a full recluster that has no other
    * source of truth (e.g. streaming ingest handles,
    * [[graft.streaming.StreamingIngest.streamingRoutedAppend]]). */
  def rows: RDD[(Long, Array[Float])] = {
    val ts = tombstones
    val all = shards.flatMap(RoutedAnnIndex.rowsOf)
    val live =
      if (ts.isEmpty) all
      else all.filter(r => Arrays.binarySearch(ts, r._1) < 0)
    live.reduceByKey((a, _) => a)
  }

  /** The `probes` nearest shards for a query, by squared-Euclidean
    * distance to the routing centroids (the k-means assignment geometry,
    * ties toward the lower shard index — [[IvfIndex.probeCells]]'s rule). */
  def probeShards(q: Array[Float], probes: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (i, Similarity.jvm.sqEuclidean(q, c)) }
      .sortBy { case (i, d) => (d, i) }
      .take(math.max(1, math.min(probes, numShards)))
      .map(_._1)

  /** Merged top-k over the `probes` nearest shards only: one job on the
    * pruned partition set (never a full fan-out), then the same bounded
    * driver merge as [[AnnIndex.search]]. probes ≥ numShards ⇒ exhaustive.
    * With boundary replication a row can surface from several probed
    * shards (identical closeness — same stored vector); the merge
    * dedupes by id so replicas never occupy two result slots. Tombstoned
    * ids never surface. */
  def search(q: Array[Float], k: Int, probes: Int,
      filter: IdFilter = null): Seq[(Long, Double)] = {
    val probe = probeShards(q, probes)
    val sc = shards.sparkContext
    // query + accept state (tombstones, Bloom) as broadcasts: a filtered
    // request widens to exhaustive probes, so the per-task closure would
    // otherwise re-ship a megabyte-scale sketch numShards times (r16
    // advice — same fix as [[scanSearch]])
    val bq = sc.broadcast(q)
    val bacc = sc.broadcast((tombstones, filter))
    val kk = k
    val local = sc.runJob(shards, (it: Iterator[AnnShard]) => {
      val (ts, f) = bacc.value
      val accept = RoutedAnnIndex.composeAccept(ts, f)
      it.toSeq.flatMap(_.topK(bq.value, kk, accept))
    }, probe)
    bq.destroy(); bacc.destroy()
    local.flatten.groupBy(_._1)
      .map { case (id, xs) => (id, xs.map(_._2).max) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(k)
  }

  /** EXACT slice scan for sharp-filtered single-query search — the
    * single-query twin of [[topKJoin]]'s sharp-filter arm (round-16: the
    * batch join auto-routed at [[RoutedAnnIndex.FilteredScanFraction]]
    * since round 15; above the absolute ≤4096 rule the single-query path
    * still ran a starved graph beam — at 100× scale a 5% predicate on a
    * 20M-row store is ~1M accepted ids, far past 4096). One job over ALL
    * shard partitions; each partition filters its stored rows through the
    * accept function ONCE into a bounded k-heap — the accept test is on
    * the ID, BEFORE the stored vector is materialized, so the ~90%
    * rejected rows pay a Bloom probe each and never a decode
    * ([[acceptedRowsOf]]; under PQ/OPQ an export is a codebook gather +
    * O(d²) rotate-back — paying it per rejected row was the r16 advice
    * finding). The driver merge dedupes replica ids like [[search]].
    * Scores are the stored form — the scan is EXACT under f32 storage
    * only. Under SQ8/PQ/OPQ the k(+slack) shortlist is RANKED on decoded
    * quantized scores, so a true top-k row can fall outside the
    * shortlist before the caller's exact hydration rescore ever sees it
    * (same storage-error contract as the graph arm, and why the caller
    * over-fetches [[NodeStorage.rescoreSlack]]): "meets any recall
    * floor" holds exactly for f32, and up to the storage's shortlist
    * error otherwise. Tombstoned ids never surface. Cost is one id-pass
    * over stored rows with decodes + distances on the accepted slice —
    * independent of how the filter correlates with shard geometry, which
    * is what makes it immune to the starved-beam failure mode.
    *
    * The query vector and the accept state (tombstone tier + Bloom
    * sketch — megabytes for a sharp filter over a large store) ship as
    * broadcasts, once per executor instead of once per task, exactly as
    * [[AnnIndex.search]] does (r16 advice #2). */
  def scanSearch(q: Array[Float], k: Int, filter: IdFilter = null): Seq[(Long, Double)] = {
    val metric = config.metric // capture: the task closure must not drag `this`
    val kk = k
    val sc = shards.sparkContext
    val bq = sc.broadcast(q)
    val bacc = sc.broadcast((tombstones, filter))
    val ord = Ordering.by[(Double, Long), (Double, Long)] {
      case (c, id) => (-c, id) // head of this ordering = worst kept entry
    }
    val local = shards.mapPartitions { it =>
      val (ts, f) = bacc.value
      val accept = RoutedAnnIndex.composeAccept(ts, f)
      val q2 = bq.value
      val h = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
      it.foreach(shard =>
        RoutedAnnIndex.acceptedRowsOf(shard, accept).foreach { case (id, v) =>
          val e = (RoutedAnnIndex.closenessOf(metric, q2, v), id)
          if (h.size < kk) h.enqueue(e)
          else if (ord.lt(e, h.head)) { h.dequeue(); h.enqueue(e) }
        })
      h.iterator.map { case (c, id) => (id, c) }
    }.collect()
    bq.destroy(); bacc.destroy()
    local.groupBy(_._1)
      .map { case (id, xs) => (id, xs.map(_._2).max) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(k)
  }

  /** Probes for a target recall, read off the PRIMARY (smallest-k)
    * measured curve: the SMALLEST calibrated probe count whose measured
    * recall@k meets `target`. A recall target is a FLOOR, so the default
    * is `conservative = true`: meet the target at the one-sided 95% lower
    * confidence bound (mean − 1.645·stderr) — the point estimate alone
    * under-delivers whenever the target lands within sampling noise of a
    * ladder point (the measured failure mode: a 0.95 target chose the
    * 0.953±0.006 point and delivered 0.9416 — ScaleCalibrate, SCALE.md).
    * `conservative = false` selects on the raw mean. Uncalibrated
    * indexes — and targets above every qualifying point — fall back to
    * EXHAUSTIVE (numShards): the safe direction. A target of exactly 1.0
    * is ALWAYS exhaustive, in both modes: a finite sample can certify an
    * estimate, never perfection — a measured 1.000 ± 0.000 on 100
    * queries says nothing about query 101. */
  def probesFor(target: Double, conservative: Boolean = true): Int =
    Calibration.select(recallCurve.toSeq, target, conservative, numShards)

  /** Probes for a target recall at SERVING SIZE n, read off the tightest
    * calibrated curve that covers n — the smallest calibrated k ≥ n.
    * Recall@k at fixed probes FALLS as k grows (more of a deeper true
    * top-k lives in unprobed shards — the measured ScaleCalibrate
    * k-ladder monotonicity), so a curve measured at k ≥ n is a
    * conservative floor for a request at n. No covering curve — n above
    * every calibrated k, or uncalibrated — falls back to EXHAUSTIVE:
    * the safe direction (and why the engine calibrates a k LADDER, not
    * one point — an n=50 request against a k=10-only curve paid
    * all-shard cost at every scale). Same LCB selection as
    * [[probesFor]]. */
  def probesForN(target: Double, n: Int, conservative: Boolean = true): Int =
    Calibration.select(
      recallCurves.filter(_._1 >= n).sortBy(_._1).headOption
        .map(_._2.toSeq).getOrElse(Seq.empty),
      target, conservative, numShards)

  /** Measure the recall-vs-probes operating curve of THIS index and
    * return a handle carrying it (shards shared — do not unpersist the
    * old handle separately): the probes knob is only usable in production
    * if someone turned it into a recall number first, and doing that by
    * hand per deployment is the FAISS-autotune chore this automates.
    *
    * Protocol (the ScaleRecall measurement, formalized):
    *  - query sample: `queries` (a production sample — a frame with a
    *    float-array column, the HIGH-FIDELITY mode: the curve then
    *    measures the distribution actually served), else `nQueries` LIVE
    *    stored rows (self-sample — the stand-in when no query log
    *    exists). Self-sampling is LEAVE-ONE-OUT (a stored query's own
    *    node is a guaranteed home-shard hit) and still reads ~1–2pt
    *    OPTIMISTIC at the curve's steep part: stored rows sit deeper
    *    inside their shards than boundary-ish external queries (measured
    *    at 200k — ScaleCalibrate, SCALE.md: self 0.9564 vs external
    *    0.9416 at 8/64). Leave a margin on self-calibrated targets, or
    *    pass `queries`;
    *  - ground truth per query: EXACT brute-force top-k over every live
    *    row under the index metric (one pass over [[rows]], per-partition
    *    bounded heaps — never the graph, which would measure probe
    *    routing against graph error);
    *  - one [[topKJoin]] per ladder point (a distributed job each, the
    *    batch search path production uses), recall@k averaged over the
    *    sample.
    * Cost: one corpus pass + |ladder| batch joins over `nQueries` rows —
    * run it once per (re)build; [[save]] persists the curve and every
    * maintenance tier carries it forward. The default ladder is powers of
    * two up to numShards (always measuring exhaustive as the top point). */
  def calibrate(nQueries: Int = 64, k: Int = 10, ladderIn: Seq[Int] = Nil,
      seed: Long = 7L,
      queries: Option[DataFrame] = None,
      qVecCol: String = "qv",
      exact: Option[DataFrame] = None): RoutedAnnIndex =
    calibrateKs(nQueries, Seq(k), ladderIn, seed, queries, qVecCol, exact)

  /** [[calibrate]] over a LADDER of serving ks in one protocol run — the
    * ground-truth corpus pass is shared (one set of max(ks)-deep heaps;
    * each k's truth is its prefix), while the SERVED side runs one real
    * batch join per (ladder point, k): a k=10 search and a k=50 search
    * use different beams (ef = max(efSearch, k)), so deriving the k=10
    * curve from the k=50 results would read optimistic — each curve must
    * be measured through exactly the search a request at that k runs.
    * Why a ladder at all: recall@k is k-dependent, so a single-k curve
    * forces every request at n > k to exhaustive probes ([[probesForN]]);
    * calibrating {10, 50} lets an n=50 recall-targeted search serve
    * PRUNED probes off a measured floor (round-14 verdict ask #2). */
  def calibrateKs(nQueries: Int, ks: Seq[Int], ladderIn: Seq[Int] = Nil,
      seed: Long = 7L,
      queries: Option[DataFrame] = None,
      qVecCol: String = "qv",
      // EXACT live corpus as an (id, key) frame. REQUIRED for a quantized
      // index: [[rows]] exports dequantized vectors there, and a curve
      // whose ground truth is the quantized corpus would answer for the
      // wrong question (the IvfSpec lesson: the quantized arm read 0.62
      // where the exact arm read 1.00 at an adversarial geometry — the
      // exact-arm curve must never answer for the quantized path, and
      // vice versa). The served side then measures THROUGH the rescored
      // join ([[topKJoinRescored]] at the engine-hydration slack), so the
      // curve carries quantization + shortlist error exactly as serving
      // does. Optional for float indexes ([[rows]] is already exact).
      exact: Option[DataFrame] = None): RoutedAnnIndex = {
    require(nQueries > 0, s"nQueries must be positive, got $nQueries")
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive, got $ks")
    require(ks.distinct.size == ks.size, s"duplicate calibration ks: $ks")
    require(!quantized || exact.nonEmpty,
      "a quantized routed index calibrates against the exact corpus — " +
        "pass exact = Some((id, key) frame); dequantized self-truth would " +
        "hide the quantization error the curve exists to measure")
    val spark = org.apache.spark.sql.SparkSession.active
    // pin the exact frame ONCE: the ground-truth pass reads it and the
    // rescored join re-reads it per ladder point — without the cache a
    // quantized calibration re-scans an uncached corpus view ~|ladder|
    // times (review round 14). Tombstoned ids are anti-filtered up front
    // (bounded set, broadcast anti-join): a ground truth containing
    // undeliverable ids would bias every measured point low (round-14
    // advice — the self-sample arm's `rows` already filters them)
    val exactCached = exact.map { df =>
      val base = df.select(col("id").cast("long").as("id"),
        col("key").cast("array<float>").as("key"))
      val live0 =
        if (tombstones.isEmpty) base
        else {
          import spark.implicits._
          base.join(broadcast(tombstones.toSeq.toDF("id")), Seq("id"), "left_anti")
        }
      live0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val live = exactCached match {
      case Some(df) => df
        .rdd.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      case None =>
        rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // (Option[ownId], vector): ownId present only for self-samples — it
      // drives the leave-one-out exclusions below
      val sample: Array[(Option[Long], Array[Float])] = queries match {
        case Some(qdf) =>
          Calibration.externalSample(qdf, qVecCol, nQueries, seed)
        case None => Calibration.selfSample(live, nQueries, seed)
      }
      if (sample.isEmpty) return this // nothing to measure
      val fp = (if (queries.isDefined) "ext:" else "self:") +
        RoutedAnnIndex.sampleFingerprint(sample.map(_._2))
      val kmax = ks.max
      val metric = config.metric
      val ownIds: Array[Option[Long]] = sample.map(_._1)
      val bq = shards.sparkContext.broadcast(sample)
      // exact ground truth: per-partition bounded heaps (kmax entries per
      // query), merged on the driver — partials are ≤ partitions×|q|×kmax;
      // LEAVE-ONE-OUT: a query's own row never enters its truth set
      val ord = Ordering.by[(Double, Long), (Double, Long)] {
        case (c, id) => (-c, id) // max of this ordering = worst kept entry
      }
      val partials = live.mapPartitions { it =>
        val qs = bq.value
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        it.foreach { case (id, v) =>
          var i = 0
          while (i < qs.length) {
            if (!qs(i)._1.contains(id)) { // LOO for self-samples only
              val c = RoutedAnnIndex.closenessOf(metric, qs(i)._2, v)
              val h = heaps(i)
              if (h.size < kmax) h.enqueue((c, id))
              else if (ord.lt((c, id), h.head)) { h.dequeue(); h.enqueue((c, id)) }
            }
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.map { case (h, i) => (i, h.toArray) }
      }.collect()
      // rank-ordered merged truth per query; each k's set is its prefix
      val truthRanked: Map[Int, Array[Long]] = partials.groupBy(_._1).map {
        case (qi, parts) =>
          qi -> parts.flatMap(_._2).sortBy { case (c, id) => (-c, id) }
            .take(kmax).map(_._2)
      }
      val ladder = Calibration.ladder(ladderIn, numShards)
      import spark.implicits._
      val qdf = sample.zipWithIndex
        .map { case ((_, v), i) => (i.toLong, v.toSeq) }.toSeq
        .toDF("qid", "qv")
        .select(col("qid"), col("qv").cast("array<float>").as("qv"))
      // every (serving k, ladder point) arm is an INDEPENDENT read-only
      // batch join over the shared shards/caches — previously run
      // back-to-back, leaving the executors idle in each arm's tail.
      // r18 (guide §2.6, VERDICT r17 item 3): run up to 3 arms
      // concurrently from a small driver pool; each arm's served set is
      // deterministic and the curves assemble in the same (k, p) order,
      // so the measured numbers are byte-identical to the serial loop.
      val arms = for (k <- ks.sorted; p <- ladder) yield (k, p)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(3, arms.length)))
      val curves = try {
        val futs: Map[(Int, Int), java.util.concurrent.Future[Map[Int, Set[Long]]]] =
          arms.map { case (k, p) =>
            (k, p) -> pool.submit(
              new java.util.concurrent.Callable[Map[Int, Set[Long]]] {
                def call(): Map[Int, Set[Long]] = {
                  // LOO on the result side too: ask for k+1, drop the
                  // query's own id (rank-ordered, so the remaining prefix
                  // is the top-k the index would return to a non-stored
                  // query at this probe count). A quantized index measures
                  // THROUGH the exact-rescored join — the path serving
                  // rides — never the raw quantized ranking
                  val served =
                    if (quantized)
                      topKJoinRescored(qdf, "qid", "qv", k + 1, p, exactCached.get)
                    else topKJoin(qdf, "qid", "qv", k + 1, p)
                  Calibration.rankedSets(
                    served.select("qid", "cid", "rank").collect(), k, ownIds)
                }
              })
          }.toMap
        ks.sorted.map { k =>
          val truth: Map[Int, Set[Long]] =
            truthRanked.map { case (qi, r) => qi -> r.take(k).toSet }
          val curve = ladder.map { p =>
            val got = futs((k, p)).get()
            val per = truth.toSeq.map { case (qi, ts) =>
              if (ts.isEmpty) 1.0
              else got.getOrElse(qi, Set.empty).count(ts).toDouble / ts.size
            }
            val (mean, se) = Calibration.meanSe(per)
            org.slf4j.LoggerFactory.getLogger(getClass).info(
              f"RoutedAnnIndex.calibrate: probes=$p%d recall@$k%d = " +
                f"$mean%.4f +- $se%.4f se (${truth.size}%d sample queries)")
            (p, mean, se)
          }.toArray
          (k, curve)
        }.toArray
      } finally pool.shutdown()
      new RoutedAnnIndex(centroids, config, shards, replicationEps, iters,
        maxReplicas, meanAssignDist, patchedRows, tombstones, storedRows,
        curves, fp, storage)
    } finally {
      live.unpersist(blocking = false)
      exactCached.foreach(_.unpersist(blocking = false))
    }
  }
}

object RoutedAnnIndex {

  /** What one maintenance call did: the new index handle, which LSM tier
    * absorbed the batch ("append" | "compact" | "tombstone"), and the
    * shard indices whose on-disk artifacts are now stale (empty for a
    * tombstone-only delete — that is a manifest-only change). */
  final case class Maintained(index: RoutedAnnIndex, tier: String,
      touchedShards: Set[Int])

  /** Append drift guard: recluster when an appended batch's mean
    * assignment distance exceeds this multiple of the build objective.
    * ScaleStaleness (SCALE.md): in-distribution batches sit at ~1.0x and
    * cost zero recall; the measured drifted regime (-4.4pt recall at 10%)
    * trips well above this. */
  val DefaultDriftLimit = 1.5

  /** Append patch-fraction guard: compact when overlay tails would
    * exceed this fraction of graph rows (tails are exact brute force, so
    * recall only improves — this bounds their linear scan cost). */
  val DefaultPatchLimit = 0.25

  /** Delete tombstone-fraction guard: compact when tombstones exceed
    * this fraction of stored rows (dead graph nodes waste traversal;
    * the survivors' recall is unaffected below this). */
  val DefaultTombstoneLimit = 0.10

  /** Delete absolute guard: compact past this many tombstones regardless
    * of fraction — bounds the sorted-id filter shipped in every search
    * task closure (8 B/id ⇒ ≤ 2 MiB) and the manifest entry. */
  val DefaultMaxTombstones = 1 << 18

  /** Exact-rescore candidate slack FLOOR for quantized shards: serving
    * asks the graph for n + slack candidates and rescores them with exact
    * floats (engine hydration; [[RoutedAnnIndex.topKJoinRescored]]'s
    * default shortlist is k + max(this, storage.rescoreSlack)) — a
    * quantization-flipped ordering inside the slack window cannot
    * displace a true top-n hit. The [[AnnSearch.FalsePositiveSlack]]
    * sizing rationale; PQ storage widens it ([[NodeStorage.Pq
    * .rescoreSlack]] — its coarse error is codebook-bounded, not
    * per-vector-range-bounded; slack sensitivity measured in ScaleQuant). */
  val RescoreSlack = 32

  /** Sharp-filter cutover for [[RoutedAnnIndex.topKJoin]]: a filter whose
    * known cardinality is below this fraction of stored rows scans the
    * accepted slice exactly instead of riding the graphs. Measured basis
    * (ScaleJoin filtered, SCALE.md round 14-15): pruned-probe in-graph
    * recall degrades as the accept set sparsifies (0.83 at 1/100
    * selectivity) while the slice scan is exact and its distance cost
    * shrinks with the slice — below ~1/10 the scan wins on both axes;
    * the batch analog of the engine's single-query ≤4096 cutover
    * (reference: ahnlich/similarity/src/hnsw/index.rs:24). */
  val FilteredScanFraction = 0.10

  /** PQ codebook training-sample cap (rows): per-subspace k-means with
    * ksub ≤ 256 saturates well below this (the Faiss ~100k–1M
    * convention); larger build frames train on a deterministic sample so
    * a recluster's training cost is bounded regardless of corpus size.
    * 2^18 keeps every measured ScaleQuant operating point training on
    * its full frame. */
  val PqTrainCap = 262144L

  /** Serialized shard layout version, part of the routed manifest: bump
    * when [[HnswIndex]]'s (or its [[VecStore]]s') serialized form
    * changes, so a restart over pre-upgrade artifacts logs an explicit
    * "layout changed — rebuilding" instead of surfacing a
    * deserialization exception from deep inside a load (round-14
    * advice). v2 = the round-14 primitive-buffer layout; v3 = the
    * round-15 NodeStorage seam (HnswIndex carries a storage field);
    * v4 = round-17: every class in the serialized shard graph now PINS
    * `@SerialVersionUID(1L)` — before this, adding any method to
    * HnswIndex/VecStore/etc. changed the JVM-computed UID and broke old
    * artifacts with a deep InvalidClassException the layout gate never
    * saw (the standing trap this closes permanently: from v4 on,
    * method-only changes are artifact-compatible, and INTENTIONAL field
    * layout changes are gated here, explicitly, as they always were).
    * Release note for v3→v4 upgrades: pre-v4 artifacts rebuild once
    * (the explicit "layout changed" path below); additionally, round 16
    * changed [[sampleFingerprint]] to content-addressed form, so a
    * carried calibration curve's workloadFp from a pre-r16 artifact
    * reads as a workload mismatch once — also resolved by the same
    * one-time rebuild. */
  val ShardLayoutVersion = 4

  /** CONTENT-ADDRESSED 64-bit fingerprint of a calibration query sample
    * (hex) — the workload identity carried beside persisted curves.
    * Per-vector content hashes are SORTED before the fold, so the
    * fingerprint is a pure function of the sample SET: the same content
    * enumerated in any order (different partitioning, different lineage)
    * reproduces it exactly, and ANY content change in the sampled rows
    * changes it (round-16 advice — the old order-sensitive fold made a
    * re-partitioned read of an identical workload a spurious mismatch,
    * and under strictCalibrationReuse a forced recalibration). The draws
    * themselves are content-addressed too ([[Calibration.externalSample]]
    * / [[Calibration.selfSample]] — bottom-n by content hash), so both
    * the sample and its stamp survive any layout change. */
  private[graft] def sampleFingerprint(vs: Array[Array[Float]]): String = {
    val hs = vs.map(v => Calibration.vecHash(v, 0x5ca1ab1eL))
    java.util.Arrays.sort(hs)
    var h = Calibration.mix64(vs.length.toLong)
    var i = 0
    while (i < hs.length) { h = Calibration.mix64(h ^ hs(i)); i += 1 }
    java.lang.Long.toHexString(h)
  }

  /** The fingerprint a calibration over `qdf` with the default
    * (nQueries, seed) would record — what reuse sites
    * ([[graft.dsl.Pipeline]]'s RECALL arms) compare against a persisted
    * [[RoutedAnnIndex.workloadFp]] before trusting a curve. One
    * bottom-n-by-content-hash job over the query view — paid only when a
    * reusable curve exists (a fresh calibration computes it for free). */
  private[graft] def workloadFingerprintOf(qdf: DataFrame, qVecCol: String,
      nQueries: Int = 64, seed: Long = 7L): String =
    "ext:" + sampleFingerprint(
      Calibration.externalSample(qdf, qVecCol, nQueries, seed).map(_._2))

  /** Closeness (DESC-better) under an index metric — the [[PatchedShard]]
    * / HnswIndex scoring contract, shared so [[RoutedAnnIndex.calibrate]]'s
    * exact ground truth ranks by the SAME order the shards do. */
  private[ann] def closenessOf(metric: Algorithm, q: Array[Float],
      v: Array[Float]): Double = {
    val jvm = Similarity.jvm
    metric match {
      case Algorithm.EuclideanDistance | Algorithm.KDTree => -jvm.sqEuclidean(q, v)
      case Algorithm.DotProductSimilarity => jvm.dot(q, v)
      case _ => jvm.cosine(q, v)
    }
  }

  /** Physical row count across shard structures, measured (one
    * metadata-only job over the cached shards — each partition reports
    * its graph size + tail lengths). The build/compaction-time source of
    * the carried `storedRows` field. */
  private[ann] def countStoredRows(shards: RDD[AnnShard]): Long = {
    def rows(s: AnnShard): Long = s match {
      case h: HnswShard => h.index.size.toLong
      case p: PatchedShard => p.extraRows.toLong + rows(p.base)
      case _ => 0L
    }
    shards.map(rows).sum().toLong
  }

  /** Stored (id, vector) rows of a routed shard — graphs and overlay
    * tails alike (the compaction extraction path). KD shards never occur
    * in a routed index (the build only grows HNSW graphs). */
  private[ann] def rowsOf(s: AnnShard): Iterator[(Long, Array[Float])] = s match {
    case h: HnswShard => h.index.entries
    case p: PatchedShard => rowsOf(p.base) ++ p.extraEntries
    case other => throw new IllegalStateException(
      s"routed shard of unexpected kind ${other.getClass.getSimpleName}")
  }

  /** Stored rows of a routed shard surviving `accept`, id-tested BEFORE
    * vector materialization (see [[HnswIndex.acceptedEntries]] — under
    * quantized storage an export is a decode, so the slice scan must not
    * decode the ~90% rejected rows). Overlay tails hold f32 arrays
    * already (no decode to skip), but the id test still short-circuits
    * the tuple allocation. */
  private[ann] def acceptedRowsOf(s: AnnShard,
      accept: Long => Boolean): Iterator[(Long, Array[Float])] = s match {
    case h: HnswShard => h.index.acceptedEntries(accept)
    case p: PatchedShard =>
      val tail =
        if (accept == null) p.extraEntries
        else p.extraEntries.filter { case (id, _) => accept(id) }
      acceptedRowsOf(p.base, accept) ++ tail
    case other => throw new IllegalStateException(
      s"routed shard of unexpected kind ${other.getClass.getSimpleName}")
  }

  /** Tombstone-aware accept composed with an optional caller filter,
    * null when nothing filters — the task-side twin of the instance
    * [[RoutedAnnIndex.acceptOf]], taking the tombstone array explicitly
    * so a task closure can compose it from a broadcast instead of
    * dragging `this`. */
  private[ann] def composeAccept(ts: Array[Long],
      filter: IdFilter): Long => Boolean =
    if (ts.isEmpty) { if (filter == null) null else filter.accept _ }
    else if (filter == null) (id: Long) => Arrays.binarySearch(ts, id) < 0
    else {
      val f = filter
      (id: Long) => Arrays.binarySearch(ts, id) < 0 && f.accept(id)
    }

  /** Stored rows of a routed shard in their EXACT stored form — graph
    * nodes as the graph holds them (codes under SQ8, floats otherwise),
    * overlay tails as floats (tails are always exact). The compaction
    * extraction path: rebuilding from payloads costs zero quantization
    * drift, where [[rowsOf]]'s float export would re-encode dequantized
    * values every compaction. */
  private[ann] def payloadsOf(s: AnnShard): Iterator[(Long, VecPayload)] = s match {
    case h: HnswShard => h.index.entriesPayload
    case p: PatchedShard => payloadsOf(p.base) ++
      p.extraEntries.map { case (id, v) => (id, VecPayload.F32(v)) }
    case other => throw new IllegalStateException(
      s"routed shard of unexpected kind ${other.getClass.getSimpleName}")
  }

  /** Stored content ids of a routed shard — graphs and tails, no vector
    * materialization (the membership-scan currency). */
  private[ann] def idsOf(s: AnnShard): Iterator[Long] = s match {
    case h: HnswShard => h.index.idsIterator
    case p: PatchedShard => idsOf(p.base) ++ p.extraIdsIterator
    case other => throw new IllegalStateException(
      s"routed shard of unexpected kind ${other.getClass.getSimpleName}")
  }

  /** Rows living in overlay tails (all [[PatchedShard]] layers). */
  private[ann] def tailRowsOf(s: AnnShard): Long = s match {
    case p: PatchedShard => p.extraRows.toLong + tailRowsOf(p.base)
    case _ => 0L
  }

  /** The frozen graph under any overlay layers. */
  private def baseOf(s: AnnShard): AnnShard = s match {
    case p: PatchedShard => baseOf(p.base)
    case b => b
  }

  /** Flattened overlay tails, innermost layer first (order is irrelevant
    * to scoring — tails are exact — but kept deterministic). */
  private def tailsOf(s: AnnShard): (Array[Long], Array[Array[Float]]) = s match {
    case p: PatchedShard =>
      val (ids0, vecs0) = tailsOf(p.base)
      val layer = p.extraEntries.toArray
      (ids0 ++ layer.map(_._1), vecs0 ++ layer.map(_._2))
    case _ => (Array.emptyLongArray, Array.empty[Array[Float]])
  }

  /** Identity partitioner on the routed shard id (same shape as
    * AnnIndex's bucket partitioner, keyed by centroid assignment). */
  private final class ShardPartitioner(val n: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: ShardPartitioner => p.n == n; case _ => false
    }
    override def hashCode: Int = n
  }

  // ------------------------------------------------------ artifact IO
  //
  // Same family policy as IvfIndex (routing layer tiny and driver-side,
  // shards serialized per partition), but LAYERED like the in-memory LSM
  // tiers, so maintenance writes cost what the maintenance did:
  //
  //   <dir>/routed_manifest.json  # config identity, sourceStamp,
  //                               # centroids as float INT BITS (exact),
  //                               # tombstones, per-shard tail row counts
  //   <dir>/s<i>.bin              # the shard's FROZEN graph (absent = empty)
  //   <dir>/p<i>.bin              # its overlay tail rows (absent = none)
  //
  // A full [[save]] writes everything. An incremental save (touchedOnly)
  // rewrites only the touched shards — and of those, a shard that merely
  // grew its overlay writes p<i>.bin alone (∝ the appended rows; the
  // graph is frozen), while a rebuilt shard (compaction / first rows)
  // rewrites s<i>.bin and drops its tail file. A tombstone-only delete is
  // a manifest-only rewrite. The manifest flips last (tmp+rename): a
  // crash mid-save leaves a stale-stamped manifest that simply rebuilds.

  def save(index: RoutedAnnIndex, dir: String, sourceStamp: String,
      touchedOnly: Option[Set[Int]] = None,
      // shards whose graph file must rewrite even though the in-memory
      // shard is an overlay (a same-batch compaction rebuilt the graph
      // UNDER the overlay, so the on-disk s<i>.bin is stale)
      forceGraph: Set[Int] = Set.empty): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // incremental saves carry the untouched shards' entries forward; with
    // no prior manifest there is nothing to carry — write everything
    val previous: Map[Int, (Boolean, Long)] = touchedOnly match {
      case Some(_) => readShardState(dir).getOrElse {
        save(index, dir, sourceStamp, None); return
      }
      case None => Map.empty
    }
    val touched = touchedOnly // capture for the task closure
    val written = index.shards.mapPartitionsWithIndex { (i, it) =>
      if (touched.exists(!_.contains(i))) Iterator.empty
      else {
        def target(prefix: String) =
          java.nio.file.Paths.get(dir, s"$prefix$i.bin")
        def writeObj(p: java.nio.file.Path, o: AnyRef): Unit = {
          val attempt = Option(org.apache.spark.TaskContext.get())
            .fold(0L)(_.taskAttemptId())
          val tmp = p.resolveSibling(s"${p.getFileName}.tmp.$attempt")
          val os = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(
            java.nio.file.Files.newOutputStream(tmp)))
          try os.writeObject(o) finally os.close()
          java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        val shards = it.toArray
        if (shards.isEmpty) {
          java.nio.file.Files.deleteIfExists(target("s"))
          java.nio.file.Files.deleteIfExists(target("p"))
          Iterator.single((i, false, 0L))
        } else {
          val shard = shards.head
          val (tids, tvecs) = tailsOf(shard)
          // an overlay-only change keeps the frozen graph file; a bare
          // shard on an incremental save IS a rebuild (or first rows), a
          // forceGraph shard rebuilt beneath its overlay — and a missing
          // graph file always writes (self-heal)
          if (touched.isEmpty || !shard.isInstanceOf[PatchedShard] ||
              forceGraph.contains(i) ||
              !java.nio.file.Files.exists(target("s")))
            writeObj(target("s"), baseOf(shard))
          if (tids.isEmpty) java.nio.file.Files.deleteIfExists(target("p"))
          else writeObj(target("p"), (tids, tvecs))
          Iterator.single((i, true, tids.length.toLong))
        }
      }
    }.collect().map { case (i, p, t) => i -> (p, t) }.toMap
    val state = (0 until index.numShards).map(i =>
      i -> written.getOrElse(i, previous.getOrElse(i, (false, 0L))))
    // the PQ codebook is part of the storage identity — it rides beside
    // the manifest in the PqCodebook artifact form (a few KB; encode
    // after a load can never diverge from the build that wrote it)
    index.storage match {
      case NodeStorage.Pq(book) => PqCodebook.save(book, dir, sourceStamp)
      case NodeStorage.Opq(book, rot) =>
        PqCodebook.save(book, dir, sourceStamp)
        OpqRotation.save(rot, dir, sourceStamp)
      case _ => ()
    }
    val json = JObject(
      "kind" -> JString("routed-hnsw"),
      "config" -> JString(index.config.toString),
      // serialized shard format version: a mismatch on load is an
      // explicit "layout changed — rebuild", never a deserialization
      // exception surfacing from a shard .bin (round-14 advice)
      "layout" -> JInt(RoutedAnnIndex.ShardLayoutVersion),
      // node storage is artifact IDENTITY (the shard .bins hold codes or
      // floats): a float artifact must never load into a quantized
      // config or vice versa — same rule as config/eps/iters
      "storage" -> JString(index.spec.key),
      "replicationEps" -> JString(index.replicationEps.toString),
      "iters" -> JInt(index.iters),
      "maxReplicas" -> JInt(index.maxReplicas),
      // derived state (restored, not compared): exact double via long bits
      "meanAssignDist" -> JInt(BigInt(
        java.lang.Double.doubleToRawLongBits(index.meanAssignDist))),
      "patchedRows" -> JInt(BigInt(index.patchedRows)),
      "storedRows" -> JInt(BigInt(index.storedRows)),
      "tombstones" -> JArray(index.tombstones.toList.map(id => JInt(BigInt(id)))),
      // measured operating curves, one per calibrated serving k (derived
      // state; exact doubles via bits), + the workload fingerprint of the
      // sample they were measured on
      "workloadFp" -> JString(index.workloadFp),
      "recallCurves" -> JArray(index.recallCurves.toList.map { case (k, curve) =>
        JArray(List(JInt(k), JArray(curve.toList.map { case (p, r, se) =>
          JArray(List(JInt(p),
            JInt(BigInt(java.lang.Double.doubleToRawLongBits(r))),
            JInt(BigInt(java.lang.Double.doubleToRawLongBits(se)))))
        })))
      }),
      "sourceStamp" -> JString(sourceStamp),
      "present" -> JArray(state.toList.map { case (_, (p, _)) => JBool(p) }),
      "tails" -> JArray(state.toList.map { case (_, (_, t)) => JInt(BigInt(t)) }),
      "centroids" -> JArray(index.centroids.toList.map(c =>
        JArray(c.toList.map(f => JInt(BigInt(java.lang.Float.floatToRawIntBits(f))))))))
    val target = java.nio.file.Paths.get(dir, "routed_manifest.json")
    val tmp = target.resolveSibling("routed_manifest.json.tmp")
    java.nio.file.Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(json)))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Per-shard (present, tailRows) from an existing manifest — the
    * carry-forward source for incremental saves. Manifests without a
    * "tails" field (pre-layered format) read as tail-free. */
  private def readShardState(dir: String): Option[Map[Int, (Boolean, Long)]] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val p = java.nio.file.Paths.get(dir, "routed_manifest.json")
      if (!java.nio.file.Files.exists(p)) return None
      val j = JsonMethods.parse(java.nio.file.Files.readString(p))
      val present = (j \ "present") match {
        case JArray(bs) => bs.map { case JBool(b) => b; case _ => return None }
        case _ => return None
      }
      val tails = (j \ "tails") match {
        case JArray(ts) => ts.map { case JInt(t) => t.toLong; case _ => return None }
        case _ => List.fill(present.length)(0L)
      }
      Some(present.zip(tails).zipWithIndex.map { case ((pr, t), i) =>
        i -> (pr, t) }.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Restore from artifacts: bit-identical centroids (int-bits round
    * trip) + per-partition shard deserialization — graph files composed
    * with their overlay tail files into the same [[PatchedShard]] layout
    * the live index had — zero Lloyd rounds and zero graph builds. None —
    * caller rebuilds — on any mismatch or read failure (derived state,
    * never an error). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
      config: NonLinearConfig.HNSWConfig, sourceStamp: String,
      replicationEps: Double = 0.0, iters: Int = 2,
      maxReplicas: Int = 2,
      storage: StorageSpec = StorageSpec.F32): Option[RoutedAnnIndex] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val p = java.nio.file.Paths.get(dir, "routed_manifest.json")
      if (!java.nio.file.Files.exists(p)) return None
      val j = JsonMethods.parse(java.nio.file.Files.readString(p))
      if ((j \ "kind") != JString("routed-hnsw")) return None
      // layout gate BEFORE any shard .bin is touched: pre-version (or
      // older-version) artifacts refuse with an explicit reason instead
      // of a deserialization exception from a changed field layout
      val layout = (j \ "layout") match { case JInt(v) => v.toInt; case _ => 1 }
      if (layout != ShardLayoutVersion) {
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"RoutedAnnIndex.load($dir): artifact layout v$layout != " +
            s"current v$ShardLayoutVersion — rebuilding (artifacts are " +
            "derived state)")
        return None
      }
      if ((j \ "config") != JString(config.toString)) return None
      // pre-SQ8 manifests carry no storage field: they are float artifacts
      val storageKey = (j \ "storage") match {
        case JString(s) => s
        case _ => "f32"
      }
      if (storageKey != storage.key) return None
      // PQ: the codebook is part of the artifact — stamp-matched like the
      // shards (a missing/stale/mismatched book rebuilds whole)
      val nodeStorage: NodeStorage = storage match {
        case StorageSpec.F32 => NodeStorage.F32
        case StorageSpec.Sq8 => NodeStorage.Sq8
        case StorageSpec.Pq(m, ksub) =>
          PqCodebook.load(dir, sourceStamp)
            .filter(b => b.m == m && b.ksub == ksub)
            .map(NodeStorage.Pq.apply)
            .getOrElse(return None)
        case StorageSpec.Opq(m, ksub) =>
          // rotation AND codebook are both storage identity: either
          // missing/stale/mismatched rebuilds whole, like PQ's book
          (for {
            book <- PqCodebook.load(dir, sourceStamp)
            if book.m == m && book.ksub == ksub
            rot <- OpqRotation.load(dir, sourceStamp)
            if rot.dim == book.dim
          } yield NodeStorage.Opq(book, rot)).getOrElse(return None)
      }
      if ((j \ "replicationEps") != JString(replicationEps.toString)) return None
      // every build parameter participates in artifact identity — an
      // artifact built under a different Lloyd-round count or replica cap
      // is a DIFFERENT index even at identical eps (same "any mismatch
      // rebuilds WHOLE" policy as config/sourceStamp/centroid count)
      if ((j \ "iters") != JInt(iters)) return None
      if ((j \ "maxReplicas") != JInt(maxReplicas)) return None
      if ((j \ "sourceStamp") != JString(sourceStamp)) return None
      val centroids: Array[Array[Float]] = (j \ "centroids") match {
        case JArray(cs) => cs.map {
          case JArray(vs) => vs.map {
            case JInt(b) => java.lang.Float.intBitsToFloat(b.toInt)
            case _ => return None
          }.toArray
          case _ => return None
        }.toArray
        case _ => return None
      }
      if (centroids.isEmpty) return None
      val state = readShardState(dir).getOrElse(return None)
      val parts = centroids.length
      if (state.size != parts) return None
      if (state.exists { case (i, (present, tails)) =>
          (present && !java.nio.file.Files.exists(
            java.nio.file.Paths.get(dir, s"s$i.bin"))) ||
          (tails > 0 && !java.nio.file.Files.exists(
            java.nio.file.Paths.get(dir, s"p$i.bin")))
        }) return None
      val metric = config.metric
      val loaded = spark.sparkContext
        .parallelize(0 until parts, parts)
        .mapPartitionsWithIndex { (i, _) =>
          def readObj(prefix: String): AnyRef = {
            val is = new java.io.ObjectInputStream(new java.io.BufferedInputStream(
              java.nio.file.Files.newInputStream(
                java.nio.file.Paths.get(dir, s"$prefix$i.bin"))))
            try is.readObject() finally is.close()
          }
          val (present, tails) = state(i)
          if (!present) Iterator.empty
          else {
            val base = readObj("s").asInstanceOf[AnnShard]
            if (tails == 0L) Iterator.single(base)
            else {
              val (tids, tvecs) =
                readObj("p").asInstanceOf[(Array[Long], Array[Array[Float]])]
              if (tids.length.toLong != tails)
                throw new java.io.IOException(
                  s"tail file p$i.bin has ${tids.length} rows, manifest says $tails")
              Iterator.single(
                new PatchedShard(base, tids, tvecs, metric): AnnShard)
            }
          }
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      loaded.count()
      val meanDist = (j \ "meanAssignDist") match {
        case JInt(b) => java.lang.Double.longBitsToDouble(b.toLong)
        case _ => 0.0
      }
      val patched = (j \ "patchedRows") match {
        case JInt(b) => b.toLong
        case _ => 0L
      }
      // pre-field manifests carry no count: −1 re-measures lazily on the
      // first guard check that needs it (one metadata job, once)
      val stored = (j \ "storedRows") match {
        case JInt(b) => b.toLong
        case _ => -1L
      }
      val tombstones: Array[Long] = (j \ "tombstones") match {
        case JArray(ts) => ts.map {
          case JInt(id) => id.toLong
          case _ => return None
        }.toArray
        case _ => Array.emptyLongArray
      }
      val workloadFp: String = (j \ "workloadFp") match {
        case JString(s) => s
        case _ => ""
      }
      val curves: Array[(Int, Array[(Int, Double, Double)])] =
        (j \ "recallCurves") match {
          case JArray(entries) => entries.map {
            case JArray(List(JInt(k), JArray(pts))) =>
              (k.toInt, pts.map {
                case JArray(List(JInt(p), JInt(bits), JInt(seBits))) =>
                  (p.toInt, java.lang.Double.longBitsToDouble(bits.toLong),
                    java.lang.Double.longBitsToDouble(seBits.toLong))
                case _ => return None
              }.toArray)
            case _ => return None
          }.toArray
          case _ => Array.empty // pre-calibration manifests load uncalibrated
        }
      Some(new RoutedAnnIndex(centroids, config, loaded, replicationEps,
        iters, maxReplicas, meanDist, patched, tombstones, stored, curves,
        workloadFp, nodeStorage))
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"RoutedAnnIndex.load($dir) failed — falling back to rebuild", e)
        None
    }

  /** Load if fresh, else build and save — the one-call form. A loaded
    * artifact whose shard count differs from the requested build config
    * is stale ([[IvfIndex.buildOrLoad]]'s rule). */
  def buildOrLoad(dfIn: DataFrame, dim: Int,
      config: NonLinearConfig.HNSWConfig, numShards: Int, dir: String,
      sourceStamp: String, iters: Int = 2, replicationEps: Double = 0.0,
      maxReplicas: Int = 2,
      storage: StorageSpec = StorageSpec.F32): RoutedAnnIndex =
    load(dfIn.sparkSession, dir, config, sourceStamp, replicationEps,
        iters, maxReplicas, storage)
      .filter { idx =>
        val ok = idx.numShards == numShards
        if (!ok) idx.unpersist()
        ok
      }
      .getOrElse {
        val built = build(dfIn, dim, config, numShards, iters,
          replicationEps, maxReplicas, storage = storage)
        // best-effort: artifacts are derived state — an IO failure here
        // degrades the next restart to a rebuild, it never fails the
        // operation that built the index (GraftEngine's artifact policy)
        try save(built, dir, sourceStamp)
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"RoutedAnnIndex artifact save to $dir failed", e)
        }
        built
      }

  /** Build over an (id LONG, key ARRAY<FLOAT>) frame: train `numShards`
    * routing centroids (`iters` Lloyd rounds — the [[IvfIndex]] loop),
    * assign every row to its nearest centroid's shard with the SAME
    * kernel the training used (assignments can't diverge from the
    * geometry), then one HNSW graph per shard, rows inserted in id order
    * (deterministic graphs, the [[AnnIndex]] discipline).
    *
    * `replicationEps` > 0 turns on BOUNDARY REPLICATION (the SPANN
    * closure rule, Chen et al. 2021 §4.2): a row is copied into every
    * shard (up to `maxReplicas`, nearest first) whose centroid is within
    * (1+eps) of its nearest centroid's distance — boundary rows, the
    * ones a small probe set misses, become reachable from BOTH their
    * adjacent shards. Storage grows by the measured replication factor
    * (logged at build; bounded by maxReplicas); search cost per probe is
    * unchanged and the merge dedupes by id. eps = 0 is exact
    * single-assignment (the [[IvfIndex.assignCell]] kernel, bit-identical
    * to the training geometry). */
  def build(dfIn: DataFrame, dim: Int, config: NonLinearConfig.HNSWConfig,
      numShards: Int, iters: Int = 2, replicationEps: Double = 0.0,
      maxReplicas: Int = 2,
      storage: StorageSpec = StorageSpec.F32): RoutedAnnIndex =
    build(dfIn, dim, config, numShards, iters, replicationEps, maxReplicas,
      storage, frozenCentroids = None)

  /** Build variant taking PRE-TRAINED routing centroids (no Lloyd rounds):
    * the primitive behind the maintenance story — "append without
    * reclustering" is a shard rebuild of (old ∪ new) rows against the OLD
    * index's frozen centroids, and the recall decay of exactly that
    * configuration vs a full recluster is what [[graft.ScaleStaleness]]
    * measures to derive the recluster cadence. */
  def build(dfIn: DataFrame, dim: Int, config: NonLinearConfig.HNSWConfig,
      numShards: Int, iters: Int, replicationEps: Double,
      maxReplicas: Int, storage: StorageSpec,
      frozenCentroids: Option[Array[Array[Float]]]): RoutedAnnIndex = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(replicationEps >= 0.0, s"replicationEps must be >= 0, got $replicationEps")
    require(maxReplicas >= 1, s"maxReplicas must be >= 1, got $maxReplicas")
    frozenCentroids.foreach(c => require(c.length == numShards,
      s"frozen centroid count ${c.length} != numShards $numShards"))
    val df = dfIn.select(col("id").cast("long").as("id"), col("key"))
      .persist(StorageLevel.MEMORY_AND_DISK) // scanned per Lloyd round + once to build
    // realize the storage: PQ trains its codebook HERE (deterministic
    // per-subspace Lloyd — PqCodebook.train) over a BOUNDED sample of the
    // build frame — the Faiss discipline: ~256k rows saturate ksub ≤ 256
    // codebooks, and an unbounded frame would make every streaming-path
    // RECLUSTER of a PQ index pay `iters` full-corpus training passes
    // inside the micro-batch loop (review round 15). The count job rides
    // the already-persisted frame.
    //
    // r18 (guide §2.6, VERDICT r17 item 3): quantizer training (PQ
    // codebook Lloyd / OPQ driver-side alternation) and routing-centroid
    // training are INDEPENDENT read-only passes over the same cached
    // frame, previously run back-to-back — the build's two serial
    // training blocks. They now overlap: the cache is materialized once
    // (the count job — the PQ path already paid it for the sample cap),
    // then the quantizer trains on a driver thread while the Lloyd
    // routing rounds run on this one. Results are byte-identical to the
    // serial order (each pass is deterministic and neither reads the
    // other's output).
    lazy val rowsOnce = df.count() // one count job, shared by cap + materialization
    def trainQuantizer(): NodeStorage = storage match {
      case p: StorageSpec.Pq =>
        val rows = rowsOnce
        val trainDf =
          if (rows <= PqTrainCap) df
          else graft.pipeline.Corpus.deterministicSample(
            df, "id", PqTrainCap.toDouble / rows)
        NodeStorage.train(p, trainDf)
      case s => NodeStorage.train(s, df)
    }
    val needsTraining = storage match {
      case _: StorageSpec.Pq | _: StorageSpec.Opq => true
      case _ => false // F32/SQ8 realize without any job
    }
    val (nodeStorage, centroids) =
      if (!needsTraining || frozenCentroids.isDefined) {
        // nothing to overlap: quantizer realization is free, or the
        // centroids are already trained (maintenance rebuild path)
        val st = trainQuantizer()
        (st, frozenCentroids.getOrElse(
          IvfIndex.trainCentroids(df, numShards, iters)))
      } else {
        val _ = rowsOnce // materialize once so the two arms never race to fill the cache
        val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
        try {
          val fut = pool.submit(new java.util.concurrent.Callable[NodeStorage] {
            def call(): NodeStorage = trainQuantizer()
          })
          val c = IvfIndex.trainCentroids(df, numShards, iters)
          (fut.get(), c)
        } finally pool.shutdown()
      }
    require(centroids.nonEmpty,
      "cannot build a routed index over an empty corpus (no routing " +
        "centroids can be trained — callers defer the build until data exists)")
    // assignment objective (mean squared distance to assigned centroid):
    // the drift baseline future appends are checked against
    val meanDist = {
      import org.apache.spark.sql.graftbridge.{CentroidDists, ColumnBridge}
      val dists = ColumnBridge.column(CentroidDists(
        ColumnBridge.expression(col("key")), centroids.flatten, numShards))
      val r = df.agg(avg(array_min(dists))).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    val assigned =
      if (replicationEps <= 0.0)
        df.select(IvfIndex.assignCell(col("key"), centroids).cast("int").as("_s"),
          col("id"), col("key"))
      else {
        // rank every centroid per row, keep the nearest maxReplicas whose
        // SQUARED distance is within (1+eps)² of the nearest's
        import graft.functions.GraftFunctions.bind
        val f = (1.0 + replicationEps) * (1.0 + replicationEps)
        val ranked = IvfIndex.cellRank(col("key"), centroids, maxReplicas)
        val kept = bind(ranked) { r =>
          filter(r, x =>
            x.getField("d") <= element_at(r, 1).getField("d") * lit(f))
        }
        df.select(explode(kept).as("_p"), col("id"), col("key"))
          .select(col("_p.c").cast("int").as("_s"), col("id"), col("key"))
      }
    val shards = assigned
      .rdd.map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Float](2).toArray)))
      .partitionBy(new ShardPartitioner(numShards))
      .mapPartitions({ it =>
        val rows = it.map(_._2).toArray.sortBy(_._1)
        val idx = HnswIndex(dim, config, nodeStorage)
        rows.foreach { case (id, v) => idx.insert(id, v) }
        if (idx.size == 0) Iterator.empty
        else Iterator(new HnswShard(idx, config.efSearch): AnnShard)
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one metadata pass both MATERIALIZES the persisted shards and counts
    // stored rows — the separate shards.count() job it replaces was pure
    // scheduler overhead (r18, guide §1.2: don't compute things twice)
    val stored = countStoredRows(shards)
    if (replicationEps > 0.0) {
      val n = df.count()
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        f"RoutedAnnIndex boundary replication eps=$replicationEps%.2f: " +
          f"$stored rows stored for $n input (${stored.toDouble / math.max(1, n)}%.3fx)")
    }
    df.unpersist(blocking = false)
    new RoutedAnnIndex(centroids, config, shards, replicationEps, iters,
      maxReplicas, meanDist, patchedRows = 0L,
      storedRowsIn = stored, storage = nodeStorage)
  }
}
