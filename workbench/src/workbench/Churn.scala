package workbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.engine.{GraftEngine, Persistence}
import graft.types.{Algorithm, MetadataValue, NonLinearConfig, PredicateCondition}
import graft.types.PredicateCondition.{Equals, In}

import Workload._

/** `churn`: mutation-heavy on a persistent store (parquet buckets under the
  * run directory) with a routed `hnsw_routed` index (16 shards, 4 probes).
  * A writer client sets, deletes and upserts while a reader client searches
  * and looks up what the writer acknowledged. The run ends by reloading the
  * store from disk and checking it against the benchmark's model of every
  * acknowledged write.
  *
  * `mutate` (concurrent = false) is the same store and op mix with ONE
  * client: each writer call is followed by twenty reader calls, so every
  * call runs alone and its latency carries no contention, and the model is
  * exact at every read, so reads are checked row for row. */
final class Churn(c: Ctx, concurrent: Boolean) extends Workload(c) {
  val InitialRows = 5000
  val Dim = 128
  val Store = "churn"
  val RestartCycles = 2

  private val gen = new Gen.Clustered(seed, Dim, 64)

  // ---------------------------------------------------------------- model
  // Rows are numbered in generation order; row i has uid "u<i>". Only the
  // writer thread mutates the model (after each acknowledged call).
  private val vecs = mutable.ArrayBuffer[Array[Float]]()
  private val keyIdx = new java.util.concurrent.ConcurrentHashMap[KeyW, Integer]()
  private val cat = mutable.ArrayBuffer[Int]()
  private val live = mutable.ArrayBuffer[Int]()      // live row ids, any order
  private val livePos = mutable.HashMap[Int, Int]()  // row id -> index in `live`
  private val deleted = mutable.LinkedHashSet[Int]()
  /** The last acknowledged rows (id, key), for the reader's lookups. */
  private val recent = new java.util.concurrent.atomic.AtomicReferenceArray[(Int, Array[Float])](256)
  private val recentN = new java.util.concurrent.atomic.AtomicLong()

  private def newRow(v: Array[Float], c: Int): Int = {
    val i = vecs.length
    vecs += v; cat += c; keyIdx.put(new KeyW(v), i); i
  }
  private def addLive(i: Int): Unit = if (!livePos.contains(i)) {
    livePos(i) = live.length; live += i; deleted -= i
    recent.set((recentN.getAndIncrement() % 256).toInt, (i, vecs(i)))
  }
  private def removeLive(i: Int): Unit = livePos.remove(i).foreach { p =>
    val last = live.remove(live.length - 1)
    if (last != i) { live(p) = last; livePos(last) = p }
    deleted += i
  }
  private def metaOfRow(i: Int) = Map("cat" -> s"c${cat(i)}", "uid" -> s"u$i")
  private def rowIdx(r: Row): Int =
    Option(keyIdx.get(new KeyW(keyOf(r)))).map(_.intValue).getOrElse(-1)

  private val initialCats = { val r = Gen.rng(seed, "churn-meta"); Array.fill(InitialRows)(r.nextInt(16)) }
  gen.rows("churn-rows", InitialRows).zip(initialCats).foreach { case (v, c) => addLive(newRow(v, c)) }

  var engine: GraftEngine = _
  private var root: String = _
  private var buildS = 0.0
  private val bytesWritten = mutable.ArrayBuffer[Double]()

  def setup(rep: Int): Unit = {
    if (engine != null) engine.dropStore(Store)
    root = s"${ctx.dir}/churn-$rep"
    engine = new GraftEngine(spark, Some(root))
    engine.createStore(Store, Dim, predicates = Set("cat", "uid"))
    engine.set(Store, entries(spark, (0 until InitialRows).map(i => (vecs(i), metaOfRow(i))), 4))
    val t0 = System.nanoTime()
    engine.createNonLinearIndex(Store, Seq(NonLinearConfig.RoutedHNSWConfig()))
    buildS = (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------ the writer

  /** A writer op is a kind plus raw draws; it is resolved against the model
    * when it runs, so the stream itself is fixed by the seed. */
  final case class WOp(kind: Int, draws: Array[Long]) {
    def render: String = s"$kind:" + draws.mkString(",")
  }
  /** Per 20 writes: 10 Set of 64, 4 DelKey, 3 Upsert, 2 DelPred, 1 Set of 512. */
  val WriteMix = Seq(10, 4, 3, 2, 1)
  def nextWrite(s: Gen.Stream): WOp = WOp(s.kind(), Array.fill(9)(s.r.nextLong()))
  private def pick(d: Long, n: Int): Int = java.lang.Math.floorMod(d, n.toLong).toInt

  /** Bytes of the files a write added (traced run only). */
  private def trackBytes(): Unit = if (rec.traced) {
    val now = fileSizes()
    if (lastFiles.nonEmpty)
      bytesWritten += now.filterNot { case (p, _) => lastFiles.contains(p) }.values.sum.toDouble
    lastFiles = now.keySet
  }
  private var lastFiles: collection.Set[Path] = Set.empty

  private def fileSizes(): Map[Path, Long] = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toMap
  }

  def runWrite(op: WOp): Unit = op.kind match {
    case 0 | 4 =>
      val batch = mutable.LinkedHashMap[Int, Int]() // row -> new cat
      if (op.kind == 4) {
        val r = new SplittableRandom(op.draws(0))
        (0 until 512).foreach(_ => batch(newRow(gen.draw(r), r.nextInt(16))) = -1)
      } else {
        val r = new SplittableRandom(op.draws(0))
        (0 until 64).foreach { _ =>
          if (r.nextInt(100) < 80 || live.isEmpty) batch(newRow(gen.draw(r), r.nextInt(16))) = -1
          else {
            val i = live(r.nextInt(live.length))
            batch(i) = (cat(i) + 1 + r.nextInt(15)) % 16
          }
        }
      }
      val fresh = batch.keys.filter(i => batch(i) < 0).toSeq
      val reset = batch.keys.filter(i => batch(i) >= 0).toSeq
      val rows = batch.toSeq.map { case (i, c) =>
        (vecs(i), Map("cat" -> s"c${if (c < 0) cat(i) else c}", "uid" -> s"u$i"))
      }
      rec.call("set", write = true) {
        engine.set(Store, rows.map { case (k, m) => (k, meta(m)) }, engine.DefaultSchema)
      }.foreach { case (ins, upd) =>
        reset.foreach(i => cat(i) = batch(i))
        fresh.foreach(addLive)
        if ((ins, upd) != (fresh.length.toLong, reset.length.toLong))
          rec.fail(s"churn set: engine said ($ins, $upd), model expects (${fresh.length}, ${reset.length})")
        trackBytes()
      }
    case 1 =>
      val rows = op.draws.take(1 + pick(op.draws(8), 4)).map(d => live(pick(d, live.length))).distinct
      rec.call("delkey", write = true) {
        engine.delKey(Store, rows.toSeq.map(vecs(_)))
      }.foreach { n =>
        rows.foreach(removeLive)
        if (n != rows.length) rec.fail(s"churn delkey: engine deleted $n, model expects ${rows.length}")
        trackBytes()
      }
    case 2 =>
      val i = live(pick(op.draws(0), live.length))
      val c = (cat(i) + 1 + pick(op.draws(1), 15)) % 16
      rec.call("upsert", write = true) {
        engine.upsert(Store, Equals("uid", MetadataValue.RawString(s"u$i")),
          newValue = Some(meta(Map("cat" -> s"c$c", "uid" -> s"u$i"))))
      }.foreach { res =>
        cat(i) = c
        if (res != ((0L, 1L))) rec.fail(s"churn upsert: engine said $res, expected (0, 1)")
        trackBytes()
      }
    case 3 =>
      val rows = op.draws.take(1 + pick(op.draws(8), 8)).map(d => live(pick(d, live.length))).distinct
      rec.call("delpred", write = true) {
        engine.delPred(Store, In("uid", rows.map(i => MetadataValue.RawString(s"u$i"): MetadataValue).toSet))
      }.foreach { n =>
        rows.foreach(removeLive)
        if (n != rows.length) rec.fail(s"churn delpred: engine deleted $n, model expects ${rows.length}")
        trackBytes()
      }
  }

  // ------------------------------------------------------------ the reader

  private def recentRows(r: SplittableRandom, n: Int): Seq[(Int, Array[Float])] = {
    val have = math.min(recentN.get(), 256L).toInt
    (0 until n).map(_ => recent.get(r.nextInt(have))).distinctBy(_._1)
  }

  /** Reader op kinds: 0 = GetSimN (routed), 1 = routed filtered by `cat`,
    * 2 = GetKey, 3 = GetPred, 4 = linear cosine GetSimN, 5 = linear
    * filtered by `cat`; per 20 reads 5, 2, 4, 2, 5 and 2. */
  val ReadMix = Seq(5, 2, 4, 2, 5, 2)
  def nextRead(s: Gen.Stream): (Int, Array[Float], Int) = {
    val kind = s.kind()
    (kind, gen.draw(s.r), s.r.nextInt(16))
  }

  /** What `mutate`'s model says at call time (one client, so it is exact
    * while the call runs): the live rows among `rows`, with their metadata.
    * None for `churn`, whose reader runs beside the writer. */
  private def liveNow(rows: Seq[Int]): Option[Map[Int, Map[String, String]]] =
    if (concurrent) None else Some(rows.filter(livePos.contains).map(i => i -> metaOfRow(i)).toMap)

  private def checkRows(what: String, got: Array[Row], asked: Seq[Int],
      want: Option[Map[Int, Map[String, String]]]): Unit =
    rec.check(what) {
      val byRow = got.map(g => rowIdx(g) -> metaOf(g)).toMap
      want match {
        case Some(w) =>
          if (got.length == w.size && byRow == w) None
          else Some(s"asked ${asked.length} rows, ${w.size} live; got ${got.length} rows")
        case None =>
          if (got.length <= asked.length && byRow.keys.forall(asked.contains)) None
          else Some(s"asked ${asked.length} rows, got ${got.length} rows")
      }
    }

  def runRead(op: (Int, Array[Float], Int), r: SplittableRandom): Unit = op match {
    case (k, q, c) if k <= 1 || k >= 4 =>
      val linear = k >= 4
      val catC = MetadataValue.RawString(s"c$c")
      val cond = if (k % 2 == 1) Some(Equals("cat", catC)) else None
      // mutate: the live rows passing the filter, as the call sees them
      val pool = if (concurrent) None
        else Some(live.filter(i => cond.isEmpty || cat(i) == c).toArray)
      rec.call(if (linear) "getsimn_linear" else "getsimn_ann", write = false) {
        engine.getSimN(Store, q, 10, if (linear) Algorithm.CosineSimilarity else Algorithm.HNSW, cond).collect()
      }.foreach { rows =>
        val got = rows.map(r => (rowIdx(r), r.getAs[Float]("similarity").toDouble)).toSeq
        rec.check(s"churn ${if (linear) "linear" else "routed"} getsimn") {
          if (rows.length != 10) Some(s"returned ${rows.length} rows, expected 10")
          else if (got.exists(_._1 < 0)) Some("returned a key that was never written")
          else pool match {
            case None => None
            case Some(p) =>
              val ok = p.toSet
              if (!got.forall(g => ok(g._1))) Some("returned a deleted row or one that fails the filter")
              else if (!linear) None
              else checkTopK(got, p.map(i => cosine(q, vecs(i))).sorted(Ordering.Double.TotalOrdering.reverse)
                .take(10).toSeq, i => cosine(q, vecs(i)))
          }
        }
      }
    case (2, _, _) =>
      val rows = recentRows(r, 1 + r.nextInt(4))
      val want = liveNow(rows.map(_._1))
      rec.call("getkey", write = false) { engine.getKey(Store, rows.map(_._2)).collect() }
        .foreach(got => checkRows("churn getkey", got, rows.map(_._1), want))
    case _ =>
      val rows = recentRows(r, 2 + r.nextInt(3))
      val want = liveNow(rows.map(_._1))
      rec.call("getpred", write = false) {
        engine.getPred(Store, In("uid", rows.map(x => MetadataValue.RawString(s"u${x._1}"): MetadataValue).toSet)).collect()
      }.foreach(got => checkRows("churn getpred", got, rows.map(_._1), want))
  }

  private val writerRng = new Gen.Stream(seed, "churn-writer", WriteMix)
  private val readerRng = new Gen.Stream(seed, "churn-reader", ReadMix)
  /** Reader calls per writer call in the one-client `mutate` loop. */
  val ReadsPerWrite = 20
  private var step = 0L
  lazy val clients: Seq[() => Unit] =
    if (concurrent) Seq(
      () => runWrite(nextWrite(writerRng)),
      () => runRead(nextRead(readerRng), readerRng.r))
    else Seq { () =>
      if (step % (ReadsPerWrite + 1) == 0) runWrite(nextWrite(writerRng))
      else runRead(nextRead(readerRng), readerRng.r)
      step += 1
    }

  /** `mutate` warms up for a fixed number of write-and-read cycles, not a
    * fixed time, so every window opens on a store that took the same
    * writes, at the same place in the write deck. */
  val WarmupCycles = 1
  override def pass: Int = if (concurrent) 1 else ReadsPerWrite + 1
  override def warmUp(seconds: Double): Unit =
    if (concurrent) super.warmUp(seconds)
    else (0 until WarmupCycles * (ReadsPerWrite + 1)).foreach(_ => clients.head())

  val classes = Seq("set" -> true, "delkey" -> true, "upsert" -> true, "delpred" -> true,
    "getsimn_ann" -> false, "getsimn_linear" -> false, "getkey" -> false, "getpred" -> false)

  private lazy val topUpW = new Gen.Stream(seed, "churn-topup-w", WriteMix)
  private lazy val topUpR = new Gen.Stream(seed, "churn-topup-r", ReadMix)
  def once(cls: String): Unit = cls match {
    case "set" | "delkey" | "upsert" | "delpred" =>
      val kind = Map("set" -> 0, "delkey" -> 1, "upsert" -> 2, "delpred" -> 3)(cls)
      var op = nextWrite(topUpW)
      while (op.kind != kind) op = nextWrite(topUpW)
      runWrite(op)
    case _ =>
      val kind = Map("getsimn_ann" -> 0, "getkey" -> 2, "getpred" -> 3, "getsimn_linear" -> 4)(cls)
      var op = nextRead(topUpR)
      while (op._1 != kind) op = nextRead(topUpR)
      runRead(op, topUpR.r)
  }

  // ---------------------------------------------------------- end of run

  /** Exact top-10 over the model's live rows. */
  private def exactTop(q: Array[Float]): Set[Int] =
    live.iterator.map(i => (i, cosine(q, vecs(i)))).toSeq.sortBy(-_._2).take(10).map(_._1).toSet

  /** The model against an engine: length, last metadata of sampled live
    * rows, absence of sampled deleted rows. */
  private def modelCheck(e: GraftEngine, what: String, r: SplittableRandom): Unit = {
    val n = e.storeLen(Store)
    if (n != live.length) rec.fail(s"$what: len $n, model has ${live.length} live rows")
    val liveSample = Seq.fill(24)(live(r.nextInt(live.length))).distinct
    rec.call("getkey_check", write = false) { e.getKey(Store, liveSample.map(vecs(_))).collect() }
      .foreach { got =>
        val byRow = got.map(g => rowIdx(g) -> metaOf(g)).toMap
        liveSample.filterNot(i => byRow.get(i).contains(metaOfRow(i))).headOption.foreach(i =>
          rec.fail(s"$what: row u$i reads ${byRow.get(i)}, model has ${metaOfRow(i)}"))
      }
    val del = deleted.toSeq
    val deadSample = if (del.isEmpty) Nil else Seq.fill(16)(del(r.nextInt(del.length))).distinct
    if (deadSample.nonEmpty)
      rec.call("getkey_check", write = false) { e.getKey(Store, deadSample.map(vecs(_))).collect() }
        .foreach(got => if (got.nonEmpty) rec.fail(s"$what: ${got.length} deleted rows still present"))
  }

  def finish(out: Report): Unit = {
    val r = Gen.rng(seed, "churn-finish")
    // recall of the routed index against the exact answer over live rows
    val recalls = (0 until 6).flatMap { _ =>
      val q = gen.draw(r)
      rec.call("getsimn_check", write = false) {
        engine.getSimN(Store, q, 10, Algorithm.HNSW).collect()
      }.map(rows => rows.map(rowIdx).count(exactTop(q)).toDouble / 10)
    }
    if (recalls.nonEmpty) out.put("recall_at_10", recalls.sum / recalls.length, "n" -> recalls.length.toString)
    modelCheck(engine, "churn live store", r)

    val files = fileSizes()
    val userBytes = live.map(i => Dim * 4L + metaOfRow(i).map { case (k, v) => k.length + v.length }.sum).sum
    out.put("persistence.files", files.size.toDouble)
    out.put("persistence.bytes", files.values.sum.toDouble)
    out.put("bytes_per_user_byte", files.values.sum.toDouble / userBytes,
      "user_bytes" -> userBytes.toString)
    if (bytesWritten.nonEmpty)
      out.put("persistence.bytes_written_per_write", Stats.median(bytesWritten.toSeq),
        "n" -> bytesWritten.length.toString)
    Persistence.readCatalog(root).find(_.meta.name == Store).foreach(rc =>
      out.put("engine.version", rc.version.toDouble))
    out.put("ann.build_s", buildS)

    // restart: reload from disk, first routed search, model check
    val cycles = (0 until RestartCycles).map { k =>
      val t0 = System.nanoTime()
      val e = GraftEngine.load(spark, root)
      val loadMs = (System.nanoTime() - t0) / 1e6
      val q = gen.draw(r)
      val t1 = System.nanoTime()
      rec.call("getsimn_check", write = false) { e.getSimN(Store, q, 10, Algorithm.HNSW).collect() }
      val firstMs = (System.nanoTime() - t1) / 1e6
      modelCheck(e, s"churn restart $k", r)
      e.storeDf(Store).unpersist()
      (loadMs, firstMs)
    }
    out.put("persistence.load_ms", Stats.median(cycles.map(_._1)))
    out.put("persistence.first_query_ms", Stats.median(cycles.map(_._2)))
    out.put("restart_ms", Stats.median(cycles.map { case (a, b) => a + b }),
      "cycles" -> cycles.length.toString)
  }

  def storePartitions: Int = engine.storeDf(Store).rdd.getNumPartitions
  def sampleVectors: Array[Array[Float]] = vecs.take(InitialRows).toArray
  def dslStatements: Seq[String] = {
    val s = new Gen.Stream(seed, "churn-reader", ReadMix)
    val r = s.r
    Seq.fill(64) {
      val (k, q, c) = nextRead(s)
      val lit = q.map(x => f"${math.abs(x)}%.6f").mkString("[", ", ", "]")
      if (k == 3) s"GETPRED (uid IN (u${r.nextInt(InitialRows)}, u${r.nextInt(InitialRows)})) IN $Store"
      else s"GETSIMN 10 WITH $lit USING cosinesimilarity IN $Store" +
        (if (k % 2 == 1) s" WHERE (cat = c$c)" else "")
    }
  }

  def digest(nOps: Int): String = {
    val d = new Gen.Digest
    (0 until InitialRows).foreach { i => d.vec(vecs(i)); d.long(cat(i)) }
    val w = new Gen.Stream(seed, "churn-writer", WriteMix)
    (0 until nOps).foreach(_ => d.str(nextWrite(w).render))
    val rd = new Gen.Stream(seed, "churn-reader", ReadMix)
    (0 until nOps).foreach { _ => val (k, q, c) = nextRead(rd); d.long(k).vec(q).long(c) }
    d.hex
  }
}
