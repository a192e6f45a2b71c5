package workbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.ai.{AiEngine, Embedders}
import graft.dsl.{Pipeline, Response}
import graft.engine.GraftEngine
import graft.functions.Similarity
import graft.types.{MetadataValue, NonLinearConfig}

import Workload._

/** `rag`: the AI proxy driven by DSL text. An in-memory STOREORIGINAL store
  * of seeded documents (`lang`, `source` predicates, a `kdtree` index); one
  * client sends GETSIMN through the kd-tree and the linear cosine scan (some
  * with a stored document's exact text, so the answer is checkable), SET
  * batches that half re-ingest earlier inputs, GETPRED and DELKEY, each
  * parsed and run by Pipeline.runAi.
  *
  * `rag_read` (readOnly = true) is the same store and the same GETSIMN and
  * GETPRED calls with no writes: the store never changes, so every answer
  * is checked against an exact top-k the benchmark computes itself. */
final class Rag(c: Ctx, readOnly: Boolean) extends Workload(c) {
  val Docs = 5000
  val Store = "docs"
  val Model = "all-minilm-l6-v2"

  private val corpus = new Gen.Corpus(seed)

  // ---------------------------------------------------------------- model
  private val meta = mutable.HashMap[String, (String, String)]() // text -> (lang, source)
  private val live = mutable.ArrayBuffer[String]()
  private val livePos = mutable.HashMap[String, Int]()
  private def addLive(t: String): Unit = if (!livePos.contains(t)) { livePos(t) = live.length; live += t }
  private def removeLive(t: String): Unit = livePos.remove(t).foreach { p =>
    val last = live.remove(live.length - 1)
    if (last != t) { live(p) = last; livePos(last) = p }
    meta -= t
  }

  private val initial: Seq[(String, String, String)] = {
    val r = Gen.rng(seed, "rag-docs")
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < Docs) seen += corpus.text(r)
    seen.toSeq.map(t => (t, Gen.Langs(r.nextInt(Gen.Langs.length)), s"s${r.nextInt(Gen.Sources)}"))
  }
  initial.foreach { case (t, l, s) => meta(t) = (l, s); addLive(t) }

  var engine: GraftEngine = _
  var ai: AiEngine = _
  private var mutationCount = 0L

  def setup(rep: Int): Unit = {
    if (engine != null) engine.dropStore(Store)
    engine = new GraftEngine(spark)
    ai = new AiEngine(engine)
    expectOk(Pipeline.runAi(ai, s"CREATESTORE $Store QUERYMODEL $Model INDEXMODEL $Model " +
      "PREDICATES (lang, source) STOREORIGINAL"))
    ai.set(Store, initial.map { case (t, l, s) =>
      (MetadataValue.RawString(t): MetadataValue, Workload.meta(Map("lang" -> l, "source" -> s)))
    })
    ai.createNonLinearIndex(Store, Seq(NonLinearConfig.KDTreeConfig()))
    mutationCount = 1
  }

  private def expectOk(rs: Seq[Pipeline.StepResult]): Response = rs match {
    case Seq(Right(r)) => r
    case Seq(Left(e)) => throw new RuntimeException(s"statement failed: $e")
    case other => throw new RuntimeException(s"expected one result, got ${other.length}")
  }

  // ------------------------------------------------------------- op stream

  /** Op kinds: 0 GETSIMN with new text, 1 GETSIMN with a stored text,
    * 2 SET of 8, 3 GETPRED, 4 DELKEY; GETSIMN goes through the kd-tree or
    * the linear cosine scan; plus draws resolved at run time. */
  final case class Op(kind: Int, filtered: Boolean, kdtree: Boolean, draws: Array[Long]) {
    def render: String = s"$kind:$filtered:$kdtree:" + draws.mkString(",")
  }
  /** Deck kinds 0-7 are GETSIMN: bit 0 filtered, bit 1 stored text, bit 2
    * kd-tree; then GETPRED, SET, DELKEY. Per 20 `rag_read` calls: 16 GETSIMN
    * (per algorithm 3 new text, 2 new text filtered, 2 stored text, 1
    * stored text filtered) and 4 GETPRED. Per 30 `rag` calls: 18 GETSIMN
    * (per algorithm 4, 2, 2, 1), 3 GETPRED, 6 SET and 3 DELKEY. */
  val Mix: Seq[Int] =
    if (readOnly) Seq(3, 2, 2, 1, 3, 2, 2, 1, 4)
    else Seq(4, 2, 2, 1, 4, 2, 2, 1, 3, 6, 3)
  def nextOp(s: Gen.Stream): Op = {
    val k = s.kind()
    val draws = Array.fill(9)(s.r.nextLong())
    if (k < 8) Op(k >> 1 & 1, filtered = (k & 1) == 1, kdtree = k >= 4, draws)
    else Op(Map(8 -> 3, 9 -> 2, 10 -> 4)(k), filtered = false, kdtree = false, draws)
  }
  private def pick(d: Long): String = live(java.lang.Math.floorMod(d, live.length.toLong).toInt)

  /** An op resolved against the current model: its DSL text, the text it
    * names, its filter value, and for SET the batch it writes. */
  final case class Resolved(stmt: String, text: String = "", value: String = "",
      batch: Seq[(String, String, String)] = Nil)

  private def resolve(op: Op): Resolved = op.kind match {
    case 0 | 1 =>
      val text = if (op.kind == 0) corpus.text(new SplittableRandom(op.draws(0))) else pick(op.draws(0))
      val lang = if (op.kind == 1) meta(text)._1 else Gen.Langs(java.lang.Math.floorMod(op.draws(1), 4L).toInt)
      Resolved(s"GETSIMN 10 WITH [$text] USING ${if (op.kdtree) "kdtree" else "cosinesimilarity"} IN $Store" +
        (if (op.filtered) s" WHERE (lang = $lang)" else ""), text, lang)
    case 2 =>
      val r = new SplittableRandom(op.draws(0))
      val fresh = Seq.fill(4)(corpus.text(r)).filterNot(meta.contains)
      val again = (1 to 4).map(j => pick(op.draws(j))).distinct
      val batch = (fresh ++ again).distinct.map(t =>
        (t, Gen.Langs(r.nextInt(Gen.Langs.length)), s"s${r.nextInt(Gen.Sources)}"))
      Resolved(s"SET (${batch.map { case (t, l, s) => s"([$t], {lang: $l, source: $s})" }.mkString(", ")}) " +
        s"IN $Store PREPROCESSACTION nopreprocessing", batch = batch)
    case 3 =>
      val source = s"s${java.lang.Math.floorMod(op.draws(0), Gen.Sources.toLong)}"
      Resolved(s"GETPRED (source = $source) IN $Store", value = source)
    case _ =>
      val text = pick(op.draws(0))
      Resolved(s"DELKEY ([$text]) IN $Store", text)
  }

  private def inputOf(r: Row): String = r.getStruct(r.fieldIndex("input")).getString(1)

  // --------------------------------------------------------- exact answers

  private lazy val embedder = Embedders.forModel(Model)
  private def embed(t: String): Array[Float] = embedder.embedOne(MetadataValue.RawString(t)).head
  /** Embeddings of the initial documents, for the exact answers of
    * `rag_read` (its store never changes). Computed on first use, which is
    * a check, after the window. */
  private lazy val docVecs: Map[String, Array[Float]] = initial.map(d => d._1 -> embed(d._1)).toMap

  /** The kd-tree ranks by squared euclidean distance and reports it; the
    * linear scan ranks by cosine similarity and reports it. */
  private def score(kdtree: Boolean, a: Array[Float], b: Array[Float]): Double =
    if (kdtree) Similarity.jvm.sqEuclidean(a, b) else Similarity.jvm.cosine(a, b)

  /** `rag_read`: the answer against the exact top-10 over the live
    * documents that pass the filter. */
  private def checkExact(op: Op, text: String, lang: String, rows: Array[Row]): Option[String] = {
    val q = embed(text)
    val docs = live.filter(t => !op.filtered || meta(t)._1 == lang).toIndexedSeq
    val byText = docs.zipWithIndex.toMap
    val scores = docs.map(t => score(op.kdtree, q, docVecs(t)))
    val want = scores.sorted(if (op.kdtree) Ordering.Double.TotalOrdering else Ordering.Double.TotalOrdering.reverse).take(10)
    checkTopK(rows.toSeq.map(r => (byText.getOrElse(inputOf(r), -1), r.getAs[Float]("similarity").toDouble)),
      want, scores)
  }

  def run(op: Op): Unit = {
    val Resolved(stmt, text, value, batch) = resolve(op)
    op.kind match {
      case 0 | 1 =>
        rec.call(if (op.kdtree) "getsimn_ann" else "getsimn_linear", write = false) {
          expectOk(Pipeline.runAi(ai, stmt)) match { case Response.SimEntries(df) => df.collect() }
        }.foreach { rows =>
          val want = if (op.filtered) live.count(t => meta(t)._1 == value) else live.length
          val best = if (op.kdtree) 0.0 else 1.0
          rec.check(s"rag getsimn ${if (op.kdtree) "kdtree" else "cosine"}") {
            val sims = rows.map(_.getAs[Float]("similarity").toDouble).toSeq
            if (rows.length != math.min(10, want)) Some(s"returned ${rows.length} rows, expected ${math.min(10, want)}")
            else if (sims != (if (op.kdtree) sims.sorted else sims.sorted.reverse)) Some("similarities out of rank order")
            else if (op.kind == 1 && (inputOf(rows.head) != text || math.abs(sims.head - best) > 1e-5))
              Some(s"stored text came back as '${inputOf(rows.head)}' at ${sims.head}, expected itself at $best")
            else if (readOnly) checkExact(op, text, value, rows)
            else None
          }
        }
      case 2 =>
        rec.call("set", write = true) {
          expectOk(Pipeline.runAi(ai, stmt)) match { case Response.SetResult(i, u) => (i, u) }
        }.foreach { case (i, u) =>
          mutationCount += 1
          batch.foreach { case (t, l, s) => meta(t) = (l, s); addLive(t) }
          if (i + u != batch.length) rec.fail(s"rag set: engine wrote ${i + u} entries, batch has ${batch.length}")
        }
      case 3 =>
        val want = live.filter(t => meta(t)._2 == value).toSet
        rec.call("getpred", write = false) {
          expectOk(Pipeline.runAi(ai, stmt)) match { case Response.Entries(df) => df.collect() }
        }.foreach { rows =>
          rec.check("rag getpred") {
            val got = rows.map(inputOf).toSet
            if (got == want && rows.length == want.size) None
            else Some(s"source $value: ${rows.length} rows, model has ${want.size}")
          }
        }
      case _ =>
        rec.call("delkey", write = true) {
          expectOk(Pipeline.runAi(ai, stmt)) match { case Response.Count(n) => n }
        }.foreach { n =>
          mutationCount += 1
          removeLive(text)
          if (n != 1) rec.fail(s"rag delkey: engine deleted $n, expected 1")
        }
    }
  }

  private def stream() = new Gen.Stream(seed, if (readOnly) "rag-read-client" else "rag-client", Mix)
  private val client = stream()
  lazy val clients: Seq[() => Unit] = Seq(() => run(nextOp(client)))
  // rag's writes take seconds each, so its windows are cut at the deadline
  override def pass: Int = if (readOnly) Mix.sum else 1

  val classes: Seq[(String, Boolean)] =
    Seq("getsimn_ann" -> false, "getsimn_linear" -> false, "getpred" -> false) ++
      (if (readOnly) Nil else Seq("set" -> true, "delkey" -> true))

  private lazy val topUp = new Gen.Stream(seed, "rag-topup", Mix)
  def once(cls: String): Unit = {
    def matches(o: Op) = cls match {
      case "getsimn_ann" => o.kind <= 1 && o.kdtree
      case "getsimn_linear" => o.kind <= 1 && !o.kdtree
      case other => o.kind == Map("set" -> 2, "getpred" -> 3, "delkey" -> 4)(other)
    }
    var op = nextOp(topUp)
    while (!matches(op)) op = nextOp(topUp)
    run(op)
  }

  def finish(out: Report): Unit = {
    if (engine.storeLen(Store) != live.length)
      rec.fail(s"rag: store holds ${engine.storeLen(Store)} entries, model has ${live.length}")
    out.put("engine.version", mutationCount.toDouble, "counted" -> "acknowledged mutations")
  }

  def storePartitions: Int = engine.storeDf(Store).rdd.getNumPartitions
  lazy val sampleVectors: Array[Array[Float]] = initial.take(4000).map(d => embed(d._1)).toArray
  def dslStatements: Seq[String] = {
    val s = stream()
    Seq.fill(64)(resolve(nextOp(s)).stmt)
  }
  override def dslIsAi: Boolean = true

  def digest(nOps: Int): String = {
    val d = new Gen.Digest
    initial.foreach { case (t, l, s) => d.str(t).str(l).str(s) }
    val s = stream()
    (0 until nOps).foreach(_ => d.str(nextOp(s).render))
    d.hex
  }
}
