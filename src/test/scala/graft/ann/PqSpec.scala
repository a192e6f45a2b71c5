package graft.ann

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures._
import graft.types.Algorithm

class PqSpec extends AnyFunSuite {
  import spark.implicits._

  private val Dim = 16
  private lazy val (ids, vecs, gen) = siftLikeDataset(seed = 77L, n = 1000, dim = Dim)
  private lazy val df = ids.zip(vecs).toSeq.toDF("id", "key").cache()

  test("training is deterministic: two runs, bit-identical codebooks") {
    val a = PqCodebook.train(df, m = 4, ksub = 8, iters = 2)
    val b = PqCodebook.train(df, m = 4, ksub = 8, iters = 2)
    assert(a.codebooks.flatten.flatten.map(java.lang.Float.floatToRawIntBits)
      .toSeq == b.codebooks.flatten.flatten.map(java.lang.Float.floatToRawIntBits).toSeq)
  }

  test("native encode kernel == HOF formulation == JVM reference, row for row") {
    val cb = PqCodebook.train(df, m = 4, ksub = 8, iters = 2)
    val got = df.select($"id", cb.encodeExpr($"key").as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val hof = df.select($"id", cb.encodeExprHof($"key").as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    ids.zip(vecs).foreach { case (id, v) =>
      assert(got(id) == cb.encodeJvm(v).toSeq, s"kernel vs jvm, id $id")
      assert(hof(id) == got(id), s"hof vs kernel, id $id")
    }
  }

  test("native ADC kernel == HOF formulation, score for score") {
    import org.apache.spark.sql.functions.{col, typedlit}
    val cb = PqCodebook.train(df, m = 4, ksub = 8, iters = 2)
    val q = gen(5000L)
    val qv = typedlit(q.toSeq)
    val prep = df.select(col("id"), cb.encodeExpr(col("key")).as("codes"))
      .withColumn("luts", cb.lutExpr(qv))
      .withColumn("qn", graft.functions.Similarity.hof.l2Norm(qv))
    val both = prep.select(col("id"),
        cb.adcCosine(col("luts"), col("qn"), col("codes")).as("k"),
        cb.adcCosineHof(col("luts"), col("qn"), col("codes")).as("h"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"id ${r.getLong(0)}: kernel ${r.getDouble(1)} vs hof ${r.getDouble(2)}")
    }
  }

  test("shortlist = corpus size degrades to exactly the brute-force top-k") {
    val cb = PqCodebook.train(df, m = 4, ksub = 8, iters = 2)
    val queries = (0 until 8).map(qi => ((9000 + qi).toLong, gen((9000 + qi).toLong)))
    val out = cb.topKJoin(queries.toDF("qid", "qv"), df,
        "qid", "qv", "id", "key", k = 10, shortlist = 1000)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq }
    queries.foreach { case (qid, qv) =>
      val exp = bruteTopK(Algorithm.CosineSimilarity, ids, vecs, qv, 10).map(_._1)
      assert(out(qid) == exp, s"query $qid")
    }
  }

  test("practical shortlist keeps high recall (ADC coarse ranking works)") {
    val cb = PqCodebook.train(df, m = 8, ksub = 16, iters = 3)
    val queries = (0 until 20).map(qi => ((7000 + qi).toLong, gen((7000 + qi).toLong)))
    val out = cb.topKJoin(queries.toDF("qid", "qv"), df,
        "qid", "qv", "id", "key", k = 10, shortlist = 80)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    var hits = 0; var total = 0
    queries.foreach { case (qid, qv) =>
      val exp = bruteTopK(Algorithm.CosineSimilarity, ids, vecs, qv, 10).map(_._1)
      hits += exp.count(out(qid).toSet.contains); total += exp.size
    }
    val recall = hits.toDouble / total
    assert(recall >= 0.9, s"recall@10 with shortlist=80 (8x k) = $recall")
  }

  test("IVF-PQ: nProbe = nCells is exactly the PQ brute-force arm; pruned probes keep recall") {
    val cb = PqCodebook.train(df, m = 8, ksub = 16, iters = 2)
    val ivf = IvfIndex.build(df, nCells = 8, iters = 2)
    try {
      val queries = (0 until 10).map(qi => ((8000 + qi).toLong, gen((8000 + qi).toLong)))
      val qDf = queries.toDF("qid", "qv")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val exhaustive = rows(ivf.pqTopKJoin(qDf, "qid", "qv",
        k = 10, nProbe = 8, shortlist = 80, cb))
      val brute = rows(cb.topKJoin(qDf, df, "qid", "qv", "id", "key",
        k = 10, shortlist = 80))
      assert(exhaustive == brute, "nProbe = nCells must equal the PQ brute-force arm")
      // pruned probes: recall over the batch against the true exact top-k
      val pruned = ivf.pqTopKJoin(qDf, "qid", "qv",
          k = 10, nProbe = 3, shortlist = 80, cb)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
      var hits = 0; var total = 0
      queries.foreach { case (qid, qv) =>
        val exp = bruteTopK(Algorithm.CosineSimilarity, ids, vecs, qv, 10).map(_._1)
        hits += exp.count(pruned(qid).toSet.contains); total += exp.size
      }
      assert(hits.toDouble / total >= 0.7,
        s"IVF-PQ recall@10 with nProbe=3/8 = ${hits.toDouble / total}")
    } finally ivf.unpersist()
  }

  test("IVF-SQ8: nProbe = nCells is exactly the SQ8 brute-force arm") {
    val ivf = IvfIndex.build(df, nCells = 8, iters = 2)
    try {
      val queries = (0 until 10).map(qi => ((8000 + qi).toLong, gen((8000 + qi).toLong)))
      val qDf = queries.toDF("qid", "qv")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val exhaustive = rows(ivf.quantizedTopKJoin(qDf, "qid", "qv",
        k = 10, nProbe = 8, shortlist = 40))
      val brute = rows(graft.functions.Quantize.quantizedTopKJoin(qDf, df,
        "qid", "qv", "id", "key", k = 10, shortlist = 40))
      assert(exhaustive.size == 100)
      assert(exhaustive == brute, "nProbe = nCells must equal the SQ8 brute-force arm")
    } finally ivf.unpersist()
  }

  test("artifact round-trip is bit-identical; stale stamp refuses to load") {
    val cb = PqCodebook.train(df, m = 4, ksub = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("pq-artifact").toString
    PqCodebook.save(cb, dir, sourceStamp = "corpus-v1")
    val loaded = PqCodebook.load(dir, "corpus-v1")
    assert(loaded.isDefined)
    assert(loaded.get.codebooks.flatten.flatten.map(java.lang.Float.floatToRawIntBits)
      .toSeq == cb.codebooks.flatten.flatten.map(java.lang.Float.floatToRawIntBits).toSeq)
    assert(loaded.get.dim == cb.dim && loaded.get.m == cb.m && loaded.get.ksub == cb.ksub)
    assert(PqCodebook.load(dir, "corpus-v2").isEmpty, "stale stamp must refuse")
    // trainOrLoad with the fresh stamp must not retrain (bit-identical books)
    val again = PqCodebook.trainOrLoad(df, m = 4, ksub = 8, dir = dir,
      sourceStamp = "corpus-v1")
    assert(again.codebooks.flatten.flatten.map(java.lang.Float.floatToRawIntBits)
      .toSeq == cb.codebooks.flatten.flatten.map(java.lang.Float.floatToRawIntBits).toSeq)
    // a stamp-matching artifact at a DIFFERENT (m, ksub) must retrain, not
    // silently serve the wrong byte budget
    val reconfigured = PqCodebook.trainOrLoad(df, m = 8, ksub = 16, dir = dir,
      sourceStamp = "corpus-v1")
    assert(reconfigured.m == 8 && reconfigured.ksub == 16)
    // ...and the retrain overwrote the artifact at the new config
    assert(PqCodebook.load(dir, "corpus-v1").exists(c => c.m == 8 && c.ksub == 16))
  }

  test("a truncated manifest refuses to load (short centroid vectors)") {
    val cb = PqCodebook.train(df, m = 4, ksub = 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pq-corrupt").toString
    PqCodebook.save(cb, dir, "v1")
    val p = java.nio.file.Paths.get(dir, "pq_manifest.json")
    // chop every centroid to half length by rewriting dim only is not
    // enough — rewrite the json with truncated inner arrays
    val txt = java.nio.file.Files.readString(p)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(txt).transformField {
      case ("codebooks", JArray(subs)) => "codebooks" -> JArray(subs.map {
        case JArray(cs) => JArray(cs.map {
          case JArray(vs) => JArray(vs.take(vs.length / 2))
          case x => x
        })
        case x => x
      })
    }
    java.nio.file.Files.writeString(p, JsonMethods.compact(JsonMethods.render(j)))
    assert(PqCodebook.load(dir, "v1").isEmpty,
      "short centroid vectors must refuse at load, not fail inside encode")
  }
}
