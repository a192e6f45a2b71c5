package graft.ann

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.spark

/** Hard-negative mining vs a driver-side brute-force reference. */
class NegativesSpec extends AnyFunSuite {

  // three labeled clusters on distinct axes plus cross-cluster "confusable"
  // vectors: id, vec, label
  private def vecs: Seq[(Long, Array[Float], Int)] = Seq(
    (0L, Array(1f, 0f, 0f, 0f), 0),
    (1L, Array(0.9f, 0.1f, 0f, 0f), 0),
    (2L, Array(0f, 1f, 0f, 0f), 1),
    (3L, Array(0.1f, 0.9f, 0f, 0f), 1),
    (4L, Array(0.7f, 0.7f, 0f, 0f), 1), // hard negative for label 0
    (5L, Array(0f, 0f, 1f, 0f), 2),
    (6L, Array(0f, 0f, 0.9f, 0.1f), 2),
    (7L, Array(0.5f, 0f, 0.8f, 0f), 2)) // confusable with label 0 too

  private def df = {
    import spark.implicits._
    vecs.toDF("id", "vec", "label")
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  private def r4(x: Double) =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("matches the brute-force reference: top-k different-label, pos anchor, semi-hard flag") {
    val k = 2
    val out = Negatives.hardNegatives(df, df,
        "id", "vec", "label", "id", "vec", "label", k)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getLong(4), r.getBoolean(5)))).toMap
    val expected = (for ((qid, qv, ql) <- vecs) yield {
      val posCos = vecs.collect { case (cid, cv, cl) if cl == ql && cid != qid => cos(qv, cv) }
        .maxOption
      val negs = vecs.collect { case (cid, cv, cl) if cl != ql => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k)
      negs.zipWithIndex.map { case ((cid, c), i) =>
        (qid, cid) -> (r4(c), posCos.map(r4).get, (i + 1).toLong,
          r4(c) < posCos.map(r4).get) }
    }).flatten.toMap
    assert(out == expected)
  }

  test("ranks are dense per query and never exceed k; self and same-label ids absent") {
    val out = Negatives.hardNegatives(df, df,
      "id", "vec", "label", "id", "vec", "label", 3).collect()
    val byQ = out.groupBy(_.getLong(0))
    val labelOf = vecs.map(v => v._1 -> v._3).toMap
    for ((qid, rows) <- byQ) {
      assert(rows.map(_.getLong(4)).sorted.toSeq == (1L to rows.length).toSeq)
      assert(rows.length <= 3)
      for (r <- rows) {
        assert(r.getLong(1) != qid)
        assert(labelOf(r.getLong(1)) != labelOf(qid))
      }
    }
  }

  test("a query whose label has no other member gets NULL pos_cos and NULL semi_hard") {
    import spark.implicits._
    val lonely = (vecs :+ ((8L, Array(0f, 0f, 0f, 1f), 9)))
      .toDF("id", "vec", "label")
    val out = Negatives.hardNegatives(
        lonely.where(org.apache.spark.sql.functions.col("id") === 8L), lonely,
        "id", "vec", "label", "id", "vec", "label", 2)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.isNullAt(3) && r.isNullAt(5)))
  }

  test("k larger than the different-label population returns all of it") {
    val out = Negatives.hardNegatives(df, df,
      "id", "vec", "label", "id", "vec", "label", 100).collect()
    // query 0 (label 0): 6 rows have a different label
    assert(out.count(_.getLong(0) == 0L) == 6)
  }

  // ---- the IVF arm (label payload in the cells table) ----

  private def labeledIvf(nCells: Int) = {
    import spark.implicits._
    // 60 vectors in 3 well-separated clusters, alternating labels inside
    // each cluster so every query has near positives AND near negatives
    val data = (0 until 60).map { i =>
      val base = Array.fill(4)(0f); base(i % 3) = 10f
      base(3) = (i / 3).toFloat * 0.1f
      (i.toLong, base, i % 2)
    }
    val df = data.toDF("id", "key", "label")
    (IvfIndex.build(df, nCells, iters = 2,
      metric = graft.types.Algorithm.CosineSimilarity), df)
  }

  test("IVF arm at nProbe = nCells is exactly the broadcast arm") {
    val (ivf, d) = labeledIvf(4)
    try {
      val q = d.where(org.apache.spark.sql.functions.col("id") < 9)
      val viaIvf = ivf.hardNegatives(q, "id", "key", "label", "label",
          k = 4, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4), r.getBoolean(5))).toSet
      val viaBf = Negatives.hardNegatives(q, d,
          "id", "key", "label", "id", "key", "label", 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getLong(4), r.getBoolean(5))).toSet
      assert(viaIvf == viaBf)
    } finally ivf.unpersist()
  }

  test("IVF arm with pruned probes keeps clustered-data recall") {
    val (ivf, d) = labeledIvf(3) // cells align with the 3 data clusters
    try {
      val q = d.where(org.apache.spark.sql.functions.col("id") < 6)
      val pruned = ivf.hardNegatives(q, "id", "key", "label", "label",
          k = 3, nProbe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Negatives.hardNegatives(q, d,
          "id", "key", "label", "id", "key", "label", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // each query's nearest different-label rows live in its own cluster
      // → probing the single nearest cell recovers the exact set
      assert(pruned == exact)
    } finally ivf.unpersist()
  }

  test("NULL labels fail loudly instead of silently vanishing from both arms") {
    import spark.implicits._
    val bad = Seq(
      (0L, Array(1f, 0f), Some("a")),
      (1L, Array(0f, 1f), None),
      (2L, Array(1f, 1f), Some("b")))
      .toDF("id", "vec", "label")
    val good = bad.where($"label".isNotNull)
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString(" | ")
    // NULL on the corpus side
    val e1 = intercept[Exception] {
      Negatives.hardNegatives(good, bad,
        "id", "vec", "label", "id", "vec", "label", 2).collect()
    }
    assert(chain(e1).contains("NULL corpus label"), chain(e1))
    // NULL on the query side
    val e2 = intercept[Exception] {
      Negatives.hardNegatives(bad, good,
        "id", "vec", "label", "id", "vec", "label", 2).collect()
    }
    assert(chain(e2).contains("NULL query label"), chain(e2))
    // all-labeled frames are unaffected by the guard
    assert(Negatives.hardNegatives(good, good,
      "id", "vec", "label", "id", "vec", "label", 2).count() > 0)
    // the IVF arm: NULL in the cells' label payload, then in the queries
    val keyed = bad.withColumnRenamed("vec", "key")
    val ivfBad = IvfIndex.build(keyed, 1, iters = 1,
      metric = graft.types.Algorithm.CosineSimilarity)
    try {
      val e3 = intercept[Exception] {
        ivfBad.hardNegatives(good, "id", "vec", "label", "label", 2, 1)
          .collect()
      }
      assert(chain(e3).contains("NULL corpus label"), chain(e3))
    } finally ivfBad.unpersist()
    val ivfGood = IvfIndex.build(keyed.where($"label".isNotNull), 1,
      iters = 1, metric = graft.types.Algorithm.CosineSimilarity)
    try {
      val e4 = intercept[Exception] {
        ivfGood.hardNegatives(bad, "id", "vec", "label", "label", 2, 1)
          .collect()
      }
      assert(chain(e4).contains("NULL query label"), chain(e4))
    } finally ivfGood.unpersist()
  }

  test("IVF arm refuses a non-cosine index and a label-free cells table") {
    import spark.implicits._
    val d = (0 until 8).map(i => (i.toLong, Array(i.toFloat, 1f), i % 2))
      .toDF("id", "key", "label")
    val eu = IvfIndex.build(d, 2, iters = 1) // EuclideanDistance default
    try intercept[IllegalArgumentException] {
      eu.hardNegatives(d, "id", "key", "label", "label", 2, 2)
    } finally eu.unpersist()
    val noLabel = IvfIndex.build(d.select("id", "key"), 2, iters = 1,
      metric = graft.types.Algorithm.CosineSimilarity)
    try intercept[IllegalArgumentException] {
      noLabel.hardNegatives(d, "id", "key", "label", "label", 2, 2)
    } finally noLabel.unpersist()
  }
}
