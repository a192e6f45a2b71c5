package workbench

import org.apache.spark.sql.Row

import graft.engine.GraftEngine
import graft.types.{Algorithm, MetadataValue, NonLinearConfig, PredicateCondition}
import graft.types.PredicateCondition.{Equals, In}

import Workload._

/** `search`: read-only. An in-memory store of clustered 128-d vectors with
  * `cat` (16 values, predicate index), `tag` (1000 values) and `uid`
  * metadata and a reference-parity `hnsw` index; one client runs the ANN,
  * linear-scan, predicate and point-lookup mix. The mutation layers do no
  * work here, so every write-path change should leave it unchanged. */
final class Search(c: Ctx) extends Workload(c) {
  val Rows = 10000
  val Dim = 128
  val Store = "search"

  private val gen = new Gen.Clustered(seed, Dim, 64)
  val vecs: Array[Array[Float]] = gen.rows("search-rows", Rows)
  private val (cats, tags) = {
    val r = Gen.rng(seed, "search-meta")
    (Array.fill(Rows)(r.nextInt(16)), Array.fill(Rows)(r.nextInt(1000)))
  }
  private def metaOfRow(i: Int) =
    Map("cat" -> s"c${cats(i)}", "tag" -> s"t${tags(i)}", "uid" -> s"u$i")
  private lazy val index: java.util.HashMap[KeyW, Integer] = {
    val m = new java.util.HashMap[KeyW, Integer](Rows * 2)
    vecs.indices.foreach(i => m.put(new KeyW(vecs(i)), i))
    m
  }
  private def rowIdx(r: Row): Int =
    Option(index.get(new KeyW(keyOf(r)))).map(_.intValue).getOrElse(-1)

  var engine: GraftEngine = _
  private val recall = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  def setup(rep: Int): Unit = {
    if (engine != null) engine.dropStore(Store)
    engine = new GraftEngine(spark)
    engine.createStore(Store, Dim, predicates = Set("cat"))
    engine.set(Store, entries(spark, vecs.indices.map(i => (vecs(i), metaOfRow(i))), 4))
    engine.createNonLinearIndex(Store, Seq(NonLinearConfig.HNSWConfig()))
  }

  // ------------------------------------------------------------- op stream

  sealed trait Op { def dsl: String; def vectors: Seq[Array[Float]] = Nil }
  /** The reference grammar's floats are unsigned, so DSL renderings (used
    * by the parse probe) carry magnitudes; the digest adds exact vectors. */
  private def vecLit(q: Array[Float]) = q.map(x => f"${math.abs(x)}%.6f").mkString("[", ", ", "]")
  private def cond(c: Option[PredicateCondition]) = c match {
    case Some(Equals(k, v)) => s" WHERE ($k = ${str(v)})"
    case Some(In(k, vs)) => s" WHERE ($k IN (${vs.toSeq.map(str).sorted.mkString(", ")}))"
    case _ => ""
  }
  // the DSL has no hnsw algorithm keyword: ANN calls render as cosine
  final case class Ann(q: Array[Float], c: Option[PredicateCondition]) extends Op {
    def dsl = s"GETSIMN 10 WITH ${vecLit(q)} USING cosinesimilarity IN $Store${cond(c)}"
    override def vectors = Seq(q)
  }
  final case class Lin(q: Array[Float], k: Int, algo: Algorithm,
      c: Option[PredicateCondition]) extends Op {
    def dsl = s"GETSIMN $k WITH ${vecLit(q)} USING " +
      (if (algo == Algorithm.EuclideanDistance) "euclideandistance" else "cosinesimilarity") +
      s" IN $Store${cond(c)}"
    override def vectors = Seq(q)
  }
  final case class Pred(tag: Int) extends Op { def dsl = s"GETPRED (tag = t$tag) IN $Store" }
  final case class Key(rows: Seq[Int]) extends Op {
    def dsl = s"GETKEY (${rows.map(i => vecLit(vecs(i))).mkString(", ")}) IN $Store"
  }

  private def catEq(c: Int) = Some(Equals("cat", MetadataValue.RawString(s"c$c")))

  /** Per 20 calls: 7 hnsw, 3 hnsw with `cat = c`, 4 linear cosine, 2 linear
    * cosine with `cat IN (..)`, 1 linear euclidean k=50, 2 GetPred, 1 GetKey. */
  val Mix = Seq(7, 3, 4, 2, 1, 2, 1)

  def nextOp(s: Gen.Stream): Op = {
    val r = s.r
    val q = gen.draw(r)
    s.kind() match {
      case 0 => Ann(q, None)
      case 1 => Ann(q, catEq(r.nextInt(16)))
      case 2 => Lin(q, 10, Algorithm.CosineSimilarity, None)
      case 3 =>
        val cs = (0 until 2 + r.nextInt(3)).map(_ => r.nextInt(16)).distinct
        Lin(q, 10, Algorithm.CosineSimilarity,
          Some(In("cat", cs.map(c => MetadataValue.RawString(s"c$c"): MetadataValue).toSet)))
      case 4 => Lin(q, 50, Algorithm.EuclideanDistance, None)
      case 5 => Pred(r.nextInt(1000))
      case _ => Key((0 until 1 + r.nextInt(4)).map(_ => r.nextInt(Rows)).distinct)
    }
  }
  private def stream() = new Gen.Stream(seed, "search-client", Mix)

  private def accepts(c: Option[PredicateCondition], i: Int): Boolean = c match {
    case Some(Equals(_, v)) => s"c${cats(i)}" == str(v)
    case Some(In(_, vs)) => vs.exists(v => str(v) == s"c${cats(i)}")
    case _ => true
  }

  /** Exact top-k over the accepted rows, best first; (row, score). */
  private def exact(q: Array[Float], k: Int, algo: Algorithm,
      c: Option[PredicateCondition]): Seq[(Int, Double)] = {
    val euclidean = algo == Algorithm.EuclideanDistance
    val scored = vecs.indices.iterator.filter(accepts(c, _)).map { i =>
      (i, if (euclidean) euclid(q, vecs(i)) else cosine(q, vecs(i)))
    }.toArray
    val ord = if (euclidean) Ordering.by[(Int, Double), Double](_._2)
      else Ordering.by[(Int, Double), Double](-_._2)
    scored.sorted(ord).take(k).toSeq
  }

  def run(op: Op): Unit = op match {
    case Ann(q, c) =>
      rec.call("getsimn_ann", write = false) {
        engine.getSimN(Store, q, 10, Algorithm.HNSW, c).collect()
      }.foreach { rows =>
        rec.check("search hnsw getsimn") {
          val got = rows.map(rowIdx).toSeq
          if (got.length != 10) Some(s"returned ${got.length} rows, expected 10")
          else if (got.exists(i => i < 0 || !accepts(c, i))) Some("a returned row is not stored or fails the filter")
          else {
            if (c.isEmpty) {
              val truth = exact(q, 10, Algorithm.CosineSimilarity, None).map(_._1).toSet
              recall.add(got.count(truth).toDouble / 10)
            }
            None
          }
        }
      }
    case Lin(q, k, algo, c) =>
      rec.call("getsimn_linear", write = false) {
        engine.getSimN(Store, q, k, algo, c).collect()
      }.foreach { rows =>
        rec.check(s"search linear getsimn k=$k") {
          val want = exact(q, k, algo, c)
          val euclidean = algo == Algorithm.EuclideanDistance
          checkTopK(rows.map(r => (rowIdx(r), r.getAs[Float]("similarity").toDouble)).toSeq,
            want.map(_._2),
            i => if (euclidean) euclid(q, vecs(i)) else cosine(q, vecs(i)))
        }
      }
    case Pred(t) =>
      rec.call("getpred", write = false) {
        engine.getPred(Store, Equals("tag", MetadataValue.RawString(s"t$t"))).collect()
      }.foreach { rows =>
        rec.check("search getpred") {
          val got = rows.map(rowIdx).toSet
          val want = tags.indices.filter(tags(_) == t).toSet
          if (got == want && rows.length == want.size) None
          else Some(s"tag t$t: ${rows.length} rows, expected ${want.size}")
        }
      }
    case Key(ids) =>
      rec.call("getkey", write = false) {
        engine.getKey(Store, ids.map(vecs(_))).collect()
      }.foreach { rows =>
        rec.check("search getkey") {
          val got = rows.map(r => rowIdx(r) -> metaOf(r)).toMap
          if (got.size == ids.size && ids.forall(i => got.get(i).contains(metaOfRow(i)))) None
          else Some(s"asked ${ids.size} keys, got ${rows.length} rows")
        }
      }
  }

  lazy val clients: Seq[() => Unit] = Seq { val s = stream(); () => run(nextOp(s)) }
  override def pass: Int = Mix.sum

  val classes = Seq("getsimn_ann" -> false, "getsimn_linear" -> false,
    "getpred" -> false, "getkey" -> false)

  private lazy val topUp = new Gen.Stream(seed, "search-topup", Mix)
  def once(cls: String): Unit = {
    var op = nextOp(topUp)
    def matches(o: Op) = (cls, o) match {
      case ("getsimn_ann", Ann(_, _)) | ("getsimn_linear", Lin(_, _, _, _)) | ("getpred", Pred(_)) | ("getkey", Key(_)) => true
      case _ => false
    }
    while (!matches(op)) op = nextOp(topUp)
    run(op)
  }

  def finish(out: Report): Unit = {
    val rs = scala.jdk.CollectionConverters.CollectionHasAsScala(recall).asScala.toSeq
    if (rs.nonEmpty)
      out.put("recall_at_10", rs.sum / rs.length, "n" -> rs.length.toString)
  }

  def storePartitions: Int = engine.storeDf(Store).rdd.getNumPartitions
  def sampleVectors: Array[Array[Float]] = vecs
  def dslStatements: Seq[String] = {
    val s = stream()
    Seq.fill(64)(nextOp(s).dsl)
  }

  def digest(nOps: Int): String = {
    val d = new Gen.Digest
    vecs.indices.foreach { i => d.vec(vecs(i)); metaOfRow(i).toSeq.sorted.foreach { case (k, v) => d.str(k).str(v) } }
    val s = stream()
    (0 until nOps).foreach { _ => val op = nextOp(s); d.str(op.dsl); op.vectors.foreach(d.vec) }
    d.hex
  }
}
