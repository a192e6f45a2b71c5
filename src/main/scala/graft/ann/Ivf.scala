package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Similarity
import graft.types.Algorithm

/**
 * IVF (inverted-file) index — the partition-pruned ANN scale path for
 * similarity search over an embedding column (an EXTENSION beyond the
 * reference's KD-tree/HNSW surface, per the north-star brief).
 *
 * Design is deliberately Spark-shaped rather than graph-shaped:
 *  - coarse quantizer: deterministic Lloyd k-means over the corpus,
 *    initialized from the k smallest-id vectors (no RNG → same cells on
 *    every build), iterated as DataFrame jobs (assign = argmin over
 *    broadcast centroids, update = groupBy-cell mean);
 *  - the "index" is just the corpus WITH A CELL COLUMN, repartitioned by
 *    cell — at cluster scale this is a parquet table partitioned by `cell`,
 *    and probing becomes partition pruning that Catalyst applies from a
 *    plain `WHERE cell IN (...)` filter;
 *  - search: score the query against the k centroids ON THE DRIVER (k is
 *    small by construction), take the nProbe nearest cells, then run the
 *    exact linear top-k over only those cells' rows.
 *
 * nProbe = nCells ⇒ exhaustive ⇒ exactly the linear scan (pinned by the
 * ann_ivf_exact correctness entry); smaller nProbe trades recall for a
 * 1/nCells-ish scan fraction (recall pinned by IvfSpec).
 */
final class IvfIndex(
    val centroids: Array[Array[Float]],
    val cells: DataFrame, // (cell INT, id LONG, key ARRAY<FLOAT>) + payload cols
    val metric: Algorithm,
    /** Measured recall-vs-nProbe operating curve from [[calibrate]] —
      * (nProbe, mean recall@k, stderr), ascending; empty until
      * calibrated. Persisted in the manifest ([[IvfIndex.save]]). Unlike
      * the routed index's graph curve, an IVF curve is PURE ROUTING
      * error: probed cells are scanned exactly, so exhaustive is 1.0 by
      * construction — EXCEPT when measured through the quantized arm
      * ([[calibrate]]'s quantizedShortlist), where SQ8 + shortlist error
      * is part of the curve, exactly as it is part of the served path. */
    val recallCurve: Array[(Int, Double, Double)] = Array.empty,
    /** The k the curve was measured at (0 = uncalibrated) — recall@k is
      * k-dependent; consumers answering for a different k re-calibrate
      * (dsl.Pipeline's RECALL arm checks this). */
    val recallK: Int = 0,
    /** Fingerprint of the query sample the curve was measured on
      * ("" = uncalibrated): "ext:<hash64>" / "self:<hash64>" — the
      * [[RoutedAnnIndex.workloadFp]] contract, persisted in the manifest
      * so DSL RECALL reuse can refuse a curve measured on a different
      * workload (round 15). */
    val workloadFp: String = "") {

  def nCells: Int = centroids.length

  def unpersist(): Unit = cells.unpersist(blocking = false)

  /** nProbe for a target recall off the measured [[recallCurve]] — the
    * [[RoutedAnnIndex.probesFor]] contract: smallest qualifying point,
    * one-sided 95% LCB selection by default, exhaustive when
    * uncalibrated / nothing qualifies / target = 1.0 (for IVF the
    * exhaustive fallback is not merely safe — it is EXACT). */
  def nProbeFor(target: Double, conservative: Boolean = true): Int =
    Calibration.select(recallCurve.toSeq, target, conservative, nCells)

  /** Measure the recall-vs-nProbe curve of THIS index and return a
    * handle carrying it (the `cells` frame is shared). The
    * [[RoutedAnnIndex.calibrate]] protocol with one simplification: IVF
    * scans probed cells exactly, so the index's own exhaustive join IS
    * the ground truth — no independent scoring pass needed. Query
    * sample: `queries` (a production sample — high fidelity) or a
    * leave-one-out self-sample of stored rows (~1–2pt optimistic at the
    * steep part; leave a margin — see the routed doc). Cost: |ladder|+1
    * batch joins over `nQueries` rows. */
  def calibrate(nQueries: Int = 64, k: Int = 10, ladderIn: Seq[Int] = Nil,
      seed: Long = 7L, queries: Option[DataFrame] = None,
      qVecCol: String = "qv",
      // measure THROUGH the SQ8 two-phase arm: the curve then includes
      // quantization + shortlist error — calibrate the path you serve
      // (ground truth stays the EXACT exhaustive join either way)
      quantizedShortlist: Option[Int] = None): IvfIndex = {
    require(nQueries > 0, s"nQueries must be positive, got $nQueries")
    require(k > 0, s"k must be positive, got $k")
    quantizedShortlist.foreach(sl => require(sl >= k + 1,
      s"quantized shortlist $sl must be >= k+1 = ${k + 1} (the LOO probe depth)"))
    val spark = cells.sparkSession
    val sample: Array[(Option[Long], Array[Float])] = queries match {
      case Some(qdf) =>
        Calibration.externalSample(qdf, qVecCol, nQueries, seed)
      case None => Calibration.selfSample(
        cells.select(col("id").cast("long"), col("key"))
          .rdd.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
        nQueries, seed)
    }
    if (sample.isEmpty) return this // empty index: nothing to measure
    val ownIds: Array[Option[Long]] = sample.map(_._1)
    import spark.implicits._
    val qdf = sample.zipWithIndex
      .map { case ((_, v), i) => (i.toLong, v.toSeq) }.toSeq
      .toDF("qid", "qv")
      .select(col("qid"), col("qv").cast("array<float>").as("qv"))
    // one ranked collect per nProbe point, LOO-filtered (ask k+1, drop
    // the query's own id, keep the top-k prefix)
    def servedJoin(nProbe: Int): DataFrame = quantizedShortlist match {
      case Some(sl) => quantizedTopKJoin(qdf, "qid", "qv", k + 1, nProbe, sl)
      case None => topKJoin(qdf, "qid", "qv", k + 1, nProbe)
    }
    def rankedSets(nProbe: Int, exact: Boolean = false): Map[Int, Set[Long]] =
      Calibration.rankedSets(
        (if (exact) topKJoin(qdf, "qid", "qv", k + 1, nProbe)
         else servedJoin(nProbe))
          .select("qid", "cid", "rank").collect(), k, ownIds)
    // ground truth: the EXACT exhaustive join (== brute force for IVF),
    // regardless of which arm the ladder measures
    val truth = rankedSets(nCells, exact = true)
    // r18 (guide §2.6, same shape as RoutedAnnIndex.calibrateKs): the
    // ladder points are independent read-only joins over the cached
    // cells — run up to 3 concurrently from a driver pool instead of
    // back-to-back; each point's served set is deterministic and the
    // curve assembles in ladder order, so the numbers are byte-identical
    // to the serial loop.
    val ladder = Calibration.ladder(ladderIn, nCells)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(3, ladder.length)))
    val curve = try {
      val futs = ladder.map { p =>
        p -> pool.submit(new java.util.concurrent.Callable[Map[Int, Set[Long]]] {
          def call(): Map[Int, Set[Long]] =
            if (p == nCells && quantizedShortlist.isEmpty) truth
            else rankedSets(p)
        })
      }.toMap
      ladder.map { p =>
        val got = futs(p).get()
        val per = truth.toSeq.map { case (qi, ts) =>
          if (ts.isEmpty) 1.0
          else got.getOrElse(qi, Set.empty).count(ts).toDouble / ts.size
        }
        val (mean, se) = Calibration.meanSe(per)
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          f"IvfIndex.calibrate: nProbe=$p%d recall@$k%d = $mean%.4f +- " +
            f"$se%.4f se (${truth.size}%d sample queries)")
        (p, mean, se)
      }.toArray
    } finally pool.shutdown()
    val fp = (if (queries.isDefined) "ext:" else "self:") +
      RoutedAnnIndex.sampleFingerprint(sample.map(_._2))
    new IvfIndex(centroids, cells, metric, curve, k, fp)
  }

  /** The nProbe nearest cells for a query (driver-side: k centroids). */
  def probeCells(q: Array[Float], nProbe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (i, Similarity.jvm.sqEuclidean(q, c)) }
      .sortBy { case (i, d) => (d, i) }
      .take(math.max(1, math.min(nProbe, nCells)))
      .map(_._1)

  /** Batch k-NN JOIN through the cells — the both-sides-large path that
    * [[graft.dedup.Dedup.topKJoin]]'s broadcast shape can't take: pairs
    * come from the IVF cell probe ([[TwoPhaseTopK.cellProbe]]), so matched
    * volume is |queries|·nProbe·(corpus/nCells) on average. nProbe =
    * nCells ⇒ every pair is scored ⇒ exactly the exhaustive join (the
    * correctness gate); smaller nProbe trades recall for a nProbe/nCells
    * scan fraction (recall pinned in IvfSpec). Returns (qid, cid, sim,
    * rank) ranked by closeness under the index's metric, ties on cid. */
  def topKJoin(queries: DataFrame, qId: String, qVec: String, k: Int,
      nProbe: Int): DataFrame = {
    val scored = TwoPhaseTopK.cellProbe(this, queries, qId, qVec, nProbe)
      .pairs(Seq(col("qv")), Seq(col("cv")))
      .select(col("qid"), col("cid"),
        Similarity.closeness(metric, col("cv"), col("qv")).as("_c"))
    // ranking goes through the bounded per-task fold ([[BoundedTopK]]),
    // NEVER a window sort of the exploded match table — that shape cost
    // 22x wall at 10x queries and is the measured query-side cliff
    // (ScaleJoin, SCALE.md round 13)
    val top = BoundedTopK.topK(scored, "qid", "cid", "_c", k)
    // similarityValue == closeness for the similarity metrics and its
    // exact negation for the distance ones (closeness = -distance, the
    // same kernel) — no winner re-scoring needed
    val sim = metric match {
      case Algorithm.CosineSimilarity | Algorithm.DotProductSimilarity |
           Algorithm.HNSW => col("score")
      case _ => -col("score")
    }
    top.select(col("qid"), col("cid"),
      round(sim.cast("float").cast("double"), 4).as("sim"), col("rank"))
  }

  /** Label-filtered hard-negative mining inside probed cells — the
    * both-sides-large arm of [[Negatives.hardNegatives]] (that one
    * broadcasts a bounded query side; here pairs come from the IVF cell
    * probe, so a million-anchor mining run needs no broadcast and no
    * all-pairs product; the miner tail is shared). Requires (a) a cosine
    * index and (b) the label stored as a PAYLOAD COLUMN of the cells table
    * — at cluster scale labels live beside the vectors in the
    * cell-partitioned parquet; joining a corpus-sized label table per
    * mining run would reintroduce the very shuffle this index removes.
    * Both the negatives and the `pos_cos` anchor see only probed cells:
    * nProbe = nCells is exactly the broadcast arm (the oracle identity
    * the embed_hard_negatives_ivf gate pins); smaller nProbe approximates
    * both, in the usual nProbe/nCells recall-for-scan tradeoff. Output
    * contract, NULL-label guard included, == [[Negatives.hardNegatives]]. */
  def hardNegatives(queries: DataFrame, qId: String, qVec: String,
      qLabel: String, cLabel: String, k: Int, nProbe: Int): DataFrame = {
    require(metric == Algorithm.CosineSimilarity,
      s"hard negatives rank by cosine; this index was built for $metric")
    require(cells.columns.contains(cLabel),
      s"index cells carry no '$cLabel' payload column — rebuild the index " +
        "from a corpus frame that includes the label")
    Negatives.mine(TwoPhaseTopK.cellProbe(this, queries, qId, qVec, nProbe,
      Seq(col(qLabel).as("ql")), Seq(col(cLabel).as("cl"))), qLabel, cLabel, k)
  }

  /** SQ8 × IVF composition — the 100 TB top-k story stacked the right way:
    * the int8 coarse pass ([[graft.functions.Quantize]]'s byte-per-dim IO
    * cut) runs over the PROBED CELLS ONLY (this index's partition pruning),
    * so scanned bytes shrink multiplicatively — nProbe/nCells of the
    * corpus × ~4× fewer bytes per row — instead of the quantized
    * brute-force arm's full-corpus coarse scan. At nProbe = nCells the
    * probed set is the whole corpus and the result is EXACTLY
    * [[graft.functions.Quantize.quantizedTopKJoin]] (one operator,
    * [[TwoPhaseTopK.rescored]], behind both — the embed_topk_quantized_ivf
    * oracle pins that identity); smaller nProbe compounds the IVF recall
    * tradeoff onto the quantization one. Cosine output contract ==
    * (qid, cid, cos, rank). At cluster scale the code columns live stored
    * beside the cell-partitioned table; here they project off the cached
    * cells (same values — int8Codes is deterministic). */
  def quantizedTopKJoin(queries: DataFrame, qId: String, qVec: String,
      k: Int, nProbe: Int, shortlist: Int): DataFrame =
    TwoPhaseTopK.rescored(TwoPhaseTopK.cellProbe(this, queries, qId, qVec,
      nProbe), TwoPhaseTopK.sq8, k, shortlist)

  /** PQ × IVF composition (IVF-ADC, the layout of Jégou 2011 §IV): the
    * product-quantized coarse pass runs over the PROBED CELLS ONLY, so the
    * two byte-budget levers stack multiplicatively — nProbe/nCells of the
    * corpus scanned × m ints per row instead of d floats. At nProbe =
    * nCells the probed set is the whole corpus and the result is EXACTLY
    * [[PqCodebook.topKJoin]] (one operator, [[TwoPhaseTopK.rescored]],
    * behind both — the embed_topk_pq_ivf oracle pins that identity);
    * smaller nProbe compounds the IVF recall tradeoff onto the codebook
    * one. Output contract == (qid, cid, cos, rank). At cluster scale the
    * code column lives stored beside the cell-partitioned table (encode at
    * ingest); here it projects off the cached cells (same values —
    * encodeExpr is deterministic). */
  def pqTopKJoin(queries: DataFrame, qId: String, qVec: String,
      k: Int, nProbe: Int, shortlist: Int,
      cb: PqCodebook): DataFrame =
    TwoPhaseTopK.rescored(TwoPhaseTopK.cellProbe(this, queries, qId, qVec,
      nProbe), TwoPhaseTopK.pq(cb), k, shortlist)

  /** Top-n over the probed cells only: `cell IN probes` prunes partitions,
    * then exact scoring + TakeOrderedAndProject. Returns (id, key, sim). */
  def search(q: Array[Float], n: Int, nProbe: Int): DataFrame = {
    val probes = probeCells(q, nProbe)
    val qc = typedLit(q)
    val scored = cells.where(col("cell").isin(probes: _*))
      .withColumn("_closeness", Similarity.closeness(metric, col("key"), qc))
    scored.orderBy(col("_closeness").desc, col("id").asc).limit(n)
      .withColumn("similarity",
        Similarity.similarityValue(metric, col("key"), qc).cast("float"))
      .drop("_closeness")
  }
}

object IvfIndex {

  /** The n nearest centroids of a vector column, as array<struct<d, c>>:
    * every centroid distance comes out of ONE native kernel call
    * ([[org.apache.spark.sql.graftbridge.CentroidDists]] — the
    * per-centroid-kernel-call array it replaces blew codegen's method
    * budget at large nCells and ran interpreted, the assignCell flaw on
    * the query side), then a k-element struct sort ranks them — tiny,
    * scalar, and ordered (d asc, c asc). This is the both-sides-large
    * routing path: at 1M+ query rows the distance work is the corpus-scale
    * cost, the sort is 256 scalars/row. The IVF cell probe
    * ([[TwoPhaseTopK.cellProbe]]) and the routed index's query routing and
    * replica assignment all rank through this one expression, so their
    * routing can never diverge. */
  private[ann] def cellRank(vec: Column, centroids: Array[Array[Float]],
      n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{CentroidDists, ColumnBridge}
    val dists = ColumnBridge.column(CentroidDists(
      ColumnBridge.expression(vec), centroids.flatten, centroids.length))
    slice(array_sort(zip_with(dists,
      sequence(lit(0), lit(centroids.length - 1)),
      (d, c) => struct(d.as("d"), c.as("c")))), 1, n)
  }

  /** Nearest-centroid index over the `key` column as ONE native kernel
    * call: [[org.apache.spark.sql.graftbridge.PqEncode]] with m = 1,
    * ksub = nCells IS the argmin over the centroid table (strict-< first
    * minimum — the same tie-break `array_position(array_min)` picked, and
    * the same ascending-index double accumulation as the FloatVecKernel
    * formulation it replaces, so assignments are bit-identical; existing
    * stamped artifacts stay valid). The old shape — a 256-element array
    * of per-centroid kernel calls with 64-float literals each — blew past
    * whole-stage codegen's method budget and fell back to interpreted
    * eval: measured 496 s for a 2-iteration Lloyd over 200k × 64-d at 256
    * cells; the single-kernel form is three tight primitive loops over
    * one flat float[] reference. */
  private[graft] def assignCell(vec: Column,
      centroids: Array[Array[Float]]): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, PqEncode}
    element_at(ColumnBridge.column(PqEncode(
      ColumnBridge.expression(vec),
      centroids.flatten, m = 1, ksub = centroids.length)), 1)
  }
  private def assignCell(centroids: Array[Array[Float]]): Column =
    assignCell(col("key"), centroids)

  /** The Lloyd loop alone: deterministic init (k smallest-id vectors) +
    * `iters` rounds as DataFrame jobs over an ALREADY-CACHED (id, key)
    * frame. Shared by [[build]] and the routed-HNSW coarse layer
    * ([[RoutedAnnIndex]]) so their routing geometry is one code path. */
  private[graft] def trainCentroids(df: DataFrame, nCells: Int,
      iters: Int): Array[Array[Float]] = {
    require(nCells > 0)
    var centroids: Array[Array[Float]] = df
      .orderBy("id").limit(nCells)
      .select("key").collect().map(_.getSeq[Float](0).toArray)
    var it = 0
    while (it < iters) {
      val assigned = df.withColumn("cell", assignCell(centroids))
      val means = assigned
        .select(col("cell"), posexplode(col("key")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(avg(col("v")).as("m"))
        .groupBy("cell").agg(
          array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"))
        .select(col("cell"), transform(col("ms"), s =>
          s.getField("m").cast("float")).as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      // empty cells keep their previous centroid (deterministic)
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
      it += 1
    }
    centroids
  }

  /** Build: deterministic init (k smallest-id vectors) + `iters` Lloyd
    * rounds as DataFrame jobs, then the cell-stamped corpus repartitioned
    * by cell. `df` must have (id LONG, key ARRAY<FLOAT>). */
  def build(dfIn: DataFrame, nCells: Int, iters: Int = 3,
      metric: Algorithm = Algorithm.EuclideanDistance): IvfIndex = {
    require(nCells > 0)
    val df = dfIn.persist(StorageLevel.MEMORY_AND_DISK) // scanned per iteration
    val centroids = trainCentroids(df, nCells, iters)
    val cells = df.withColumn("cell", assignCell(centroids))
      .repartition(col("cell"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cells.count()
    df.unpersist(blocking = false)
    new IvfIndex(centroids, cells, metric)
  }

  // ------------------------------------------------------ artifact IO
  //
  // The HNSW/KD shards persist (AnnIndex.save) but IVF used to retrain
  // k-means and re-partition on every process. Its natural artifact is
  // different from a graph's: the index IS (a) the k centroids — tiny,
  // driver-side — and (b) the cell-stamped corpus, whose scale-native
  // form is a parquet table PARTITIONED BY CELL (probing then becomes
  // partition pruning from the `cell IN (...)` filter; cluster
  // deployments point `dir` at shared storage). Layout:
  //
  //   <dir>/ivf_manifest.json   # metric, dims, source stamp,
  //                             # centroids as float INT BITS (exact)
  //   <dir>/cells/              # the cells frame, partitionBy("cell")
  //
  // The caller-supplied `sourceStamp` names the corpus version the index
  // was built from (a persistence bucket path, a parquet snapshot dir —
  // whatever identifies the data). Load returns None on any stamp/config
  // mismatch or read failure: unlike HNSW's per-shard delta patch, a
  // stale IVF rebuilds WHOLE — its mutation story at scale is periodic
  // reclustering, not incremental repair (centroids drift with the data;
  // patching cells against frozen centroids silently degrades recall).
  // Centroid floats travel as intBits so restore is bit-identical: cell
  // assignment and probe routing after a load can never diverge from the
  // build that wrote the artifact.

  def save(index: IvfIndex, dir: String, sourceStamp: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    index.cells.write
      .mode("overwrite")
      .partitionBy("cell")
      .parquet(java.nio.file.Paths.get(dir, "cells").toString)
    saveManifest(index, dir, sourceStamp)
  }

  /** Manifest-only rewrite — what persisting a freshly-measured
    * calibration curve costs (the cell parquet is untouched; a curve is
    * derived state exactly like the routed index's). */
  def saveManifest(index: IvfIndex, dir: String, sourceStamp: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val json = JObject(
      "kind" -> JString("ivf"),
      "metric" -> JString(index.metric.toString),
      "sourceStamp" -> JString(sourceStamp),
      "recallK" -> JInt(index.recallK),
      "workloadFp" -> JString(index.workloadFp),
      "recallCurve" -> JArray(index.recallCurve.toList.map { case (p, r, se) =>
        JArray(List(JInt(p),
          JInt(BigInt(java.lang.Double.doubleToRawLongBits(r))),
          JInt(BigInt(java.lang.Double.doubleToRawLongBits(se)))))
      }),
      "centroids" -> JArray(index.centroids.toList.map(c =>
        JArray(c.toList.map(f => JInt(BigInt(java.lang.Float.floatToRawIntBits(f))))))))
    val target = java.nio.file.Paths.get(dir, "ivf_manifest.json")
    val tmp = target.resolveSibling("ivf_manifest.json.tmp")
    java.nio.file.Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(json)))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Restore an index from `dir`. None (caller rebuilds) when the
    * manifest is missing/corrupt, the metric differs, or the recorded
    * source stamp doesn't match `sourceStamp`. The restored cells frame
    * reads straight from the cell-partitioned parquet — zero Lloyd
    * iterations, zero repartition (the layout on disk IS the
    * partitioning). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
      metric: Algorithm, sourceStamp: String): Option[IvfIndex] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val p = java.nio.file.Paths.get(dir, "ivf_manifest.json")
      if (!java.nio.file.Files.exists(p)) return None
      val j = JsonMethods.parse(java.nio.file.Files.readString(p))
      if ((j \ "kind") != JString("ivf")) return None
      if ((j \ "metric") != JString(metric.toString)) return None
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
      val recallK: Int = (j \ "recallK") match {
        case JInt(i) => i.toInt
        case _ => 0
      }
      val curve: Array[(Int, Double, Double)] = (j \ "recallCurve") match {
        case JArray(pts) => pts.map {
          case JArray(List(JInt(p), JInt(bits), JInt(seBits))) =>
            (p.toInt, java.lang.Double.longBitsToDouble(bits.toLong),
              java.lang.Double.longBitsToDouble(seBits.toLong))
          case _ => return None
        }.toArray
        case _ => Array.empty // pre-calibration manifests load uncalibrated
      }
      val workloadFp: String = (j \ "workloadFp") match {
        case JString(s) => s
        case _ => ""
      }
      val cellsPath = java.nio.file.Paths.get(dir, "cells")
      if (!java.nio.file.Files.exists(cellsPath)) return None
      val raw = spark.read.parquet(cellsPath.toString)
      // partitionBy moved `cell` to a discovered partition column (last,
      // int-inferred); restore the build's column order and type
      val others = raw.columns.filterNot(_ == "cell")
      val cells = raw.select(others.map(col) :+ col("cell").cast("int"): _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      Some(new IvfIndex(centroids, cells, metric, curve, recallK, workloadFp))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Load if fresh, else build and save — the one-call form. A loaded
    * artifact whose cell count differs from the REQUESTED build config is
    * stale (a code change to the caller's nCells would otherwise load the
    * old clustering silently, and any caller deriving nProbe from its own
    * nCells constant would then probe a different scan fraction than it
    * believes — surfacing only as a confusing oracle mismatch); treat it
    * exactly like a sourceStamp mismatch and rebuild. The centroid table
    * in the manifest IS the cell count — no separate field to drift. */
  def buildOrLoad(dfIn: DataFrame, nCells: Int, dir: String,
      sourceStamp: String, iters: Int = 3,
      metric: Algorithm = Algorithm.EuclideanDistance): IvfIndex =
    load(dfIn.sparkSession, dir, metric, sourceStamp)
      .filter { idx =>
        val ok = idx.nCells == nCells
        if (!ok) idx.cells.unpersist()
        ok
      }
      .getOrElse {
      val built = build(dfIn, nCells, iters, metric)
      save(built, dir, sourceStamp)
      built
    }
}
