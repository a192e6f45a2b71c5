package workbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.ai.AiEngine
import graft.ann.HnswIndex
import graft.engine.GraftEngine
import graft.functions.Similarity
import graft.types.{MetadataValue, NonLinearConfig}

/** The traced run's per-layer measurements, all taken from the benchmark's
  * own code: a SparkListener keyed by the benchmark's local property, the
  * spans and `routed:*` events graft.obs.Trace already records, and kernel
  * probes that time the layers' public functions on the run's inputs. */
object Layers {

  /** Spark local property carrying the id of the benchmark call in flight
    * on a client thread; jobs inherit it in their properties. */
  val CallKey = "workbench.call"

  final class Tally {
    val jobs = new AtomicLong(); val tasks = new AtomicLong()
    val taskMs = new AtomicLong(); val shuffleBytes = new AtomicLong()
    /** (start, end) epoch millis of each job the call launched. */
    val intervals = new ConcurrentHashMap[Int, (Long, Long)]()
  }

  final class CallListener extends SparkListener {
    val byCall = new ConcurrentHashMap[Long, Tally]()
    private val jobCall = new ConcurrentHashMap[Int, Long]()
    private val stageCall = new ConcurrentHashMap[Int, Long]()
    val events = new AtomicLong()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(CallKey))).foreach { s =>
        val id = s.toLong
        val t = byCall.computeIfAbsent(id, _ => new Tally)
        t.jobs.incrementAndGet()
        t.intervals.put(e.jobId, (e.time, Long.MaxValue))
        jobCall.put(e.jobId, id)
        e.stageIds.foreach(stageCall.put(_, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobCall.get(e.jobId)).foreach { id =>
        val t = byCall.get(id)
        Option(t.intervals.get(e.jobId)).foreach { case (s, _) => t.intervals.put(e.jobId, (s, e.time)) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      Option(stageCall.get(e.stageId)).foreach { id =>
        val t = byCall.get(id)
        t.tasks.incrementAndGet()
        if (e.taskInfo != null) t.taskMs.addAndGet(e.taskInfo.duration)
        val m = e.taskMetrics
        if (m != null) t.shuffleBytes.addAndGet(
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      }
    }

    /** Wait until the listener bus has gone quiet (events arrive after the
      * calls that caused them return). */
    def drain(): Unit = {
      var last = -1L
      var rounds = 0
      while (events.get() != last && rounds < 40) {
        last = events.get(); Thread.sleep(250); rounds += 1
      }
    }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** engine.<family>.* medians over the traced calls of each op class. */
  def callMetrics(calls: Seq[Call], l: CallListener, out: Report,
      families: Map[String, Seq[String]]): Unit =
    families.foreach { case (family, classes) =>
      val cs = calls.filter(c => c.ok && classes.contains(c.cls))
      if (cs.nonEmpty) {
        val rows = cs.map { c =>
          val t = Option(l.byCall.get(c.id)).getOrElse(new Tally)
          val wallMs = c.wallNs / 1e6
          val endMs = c.startMs + math.ceil(wallMs).toLong
          val busy = covered(t.intervals.values.asScala.toSeq, c.startMs, endMs)
          Seq(wallMs, t.jobs.get.toDouble, t.tasks.get.toDouble, t.taskMs.get.toDouble,
            t.shuffleBytes.get.toDouble, math.max(0.0, wallMs - busy))
        }
        Metrics.callFields.map(_._1).zipWithIndex.foreach { case (f, j) =>
          out.put(s"engine.$family.$f", Stats.median(rows.map(_(j))), "n" -> cs.length.toString)
        }
      }
    }

  /** Routed-index maintenance event counts, from graft.obs.Trace. */
  def routedMetrics(spark: SparkSession, out: Report): Unit = {
    val ops = graft.obs.Trace.frame(spark).collect().toSeq.map(_.getAs[String]("op"))
    def count(names: String*) = ops.count(o => names.exists(n => o == s"routed:$n")).toDouble
    out.put("ann.routed.append", count("append"))
    out.put("ann.routed.compact", count("compact", "delete-compact"))
    out.put("ann.routed.tombstone", count("delete-tombstone"))
    out.put("ann.routed.recluster", count("recluster-pending", "recluster"))
  }

  /** ai.*: a 500-document AI store of seeded texts, queried and written
    * through Pipeline.runAi with tracing on. AI self time is an `AI.*`
    * span minus its nested DB spans, so it hardly depends on store size;
    * every workload measures it the same way. Resets graft.obs.Trace. */
  def aiProbe(spark: SparkSession, seed: Long, out: Report): Unit = {
    val model = "all-minilm-l6-v2"
    val store = "ai_probe"
    val corpus = new Gen.Corpus(seed)
    val r = Gen.rng(seed, "ai-probe")
    val texts = Iterator.continually(corpus.text(r)).distinct.take(524).toSeq
    val (stored, fresh) = texts.splitAt(500)
    embedMetrics(model, stored.take(256), out)
    val ai = new AiEngine(new GraftEngine(spark))
    def run(stmt: String): Unit = graft.dsl.Pipeline.runAi(ai, stmt).foreach {
      case Right(graft.dsl.Response.SimEntries(df)) => df.collect()
      case Right(_) =>
      case Left(e) => throw new IllegalStateException(s"ai probe: $stmt failed: $e")
    }
    run(s"CREATESTORE $store QUERYMODEL $model INDEXMODEL $model PREDICATES (lang) STOREORIGINAL")
    ai.set(store, stored.map(t => (MetadataValue.RawString(t): MetadataValue,
      Map("lang" -> (MetadataValue.RawString("en"): MetadataValue)))))
    graft.obs.Trace.reset()
    graft.obs.Trace.enabled = true
    try {
      (0 until 8).foreach(i => run(s"GETSIMN 10 WITH [${stored(i * 37)}] USING cosinesimilarity IN $store"))
      fresh.grouped(8).foreach { batch =>
        val docs = (batch ++ stored.slice(batch.length, batch.length + 4)).map(t => s"([$t], {lang: en})")
        run(s"SET (${docs.mkString(", ")}) IN $store PREPROCESSACTION nopreprocessing")
      }
    } finally graft.obs.Trace.enabled = false
    val spans = graft.obs.Trace.frame(spark).collect().toSeq
    val childNs = mutable.Map[Long, Long]().withDefaultValue(0L)
    spans.foreach { r =>
      val p = r.getAs[Long]("parent")
      if (p >= 0) childNs(p) += r.getAs[Long]("durNs")
    }
    Seq("AI.Set" -> "ai.set.self_ms", "AI.GetSimN" -> "ai.getsimn.self_ms").foreach { case (op, name) =>
      val xs = spans.filter(_.getAs[String]("op") == op)
        .map(r => (r.getAs[Long]("durNs") - childNs(r.getAs[Long]("seq"))) / 1e6)
      out.put(name, Stats.median(xs), "n" -> xs.length.toString, "store_rows" -> stored.length.toString)
    }
    ai.dropStore(store)
  }

  private def timeIt(reps: Int)(f: => Unit): Double = {
    val xs = (0 until reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble }
    Stats.median(xs)
  }

  /** Kernel results land here so the JIT cannot drop the timed loops. */
  @volatile private var sink = 0.0

  /** functions.*: Similarity.jvm kernels over the run's vectors, warmed up. */
  def kernelMetrics(vecs: Array[Array[Float]], out: Report): Unit = {
    val rows = vecs.take(8192)
    val q = vecs(vecs.length / 2)
    def pass(f: (Array[Float], Array[Float]) => Double): Unit = {
      var s = 0.0
      var i = 0; while (i < rows.length) { s += f(q, rows(i)); i += 1 }
      sink = s
    }
    (0 until 20).foreach { _ => pass(Similarity.jvm.cosine); pass(Similarity.jvm.euclidean) }
    out.put("functions.cosine_ns_per_row", timeIt(15)(pass(Similarity.jvm.cosine)) / rows.length)
    out.put("functions.l2_ns_per_row", timeIt(15)(pass(Similarity.jvm.euclidean)) / rows.length)
  }

  /** ann.hnsw_*: a shard-sized HnswIndex over the run's vectors. */
  def hnswMetrics(vecs: Array[Array[Float]], out: Report): Unit = {
    val cfg = NonLinearConfig.HNSWConfig()
    val n = math.min(2000, vecs.length - 200)
    def build(k: Int): (HnswIndex, Double) = {
      val idx = HnswIndex(vecs(0).length, cfg)
      val t0 = System.nanoTime()
      (0 until k).foreach(i => idx.insert(i.toLong, vecs(i)))
      (idx, (System.nanoTime() - t0) / 1e3 / k)
    }
    build(500) // warm-up
    val (idx, insertUs) = build(n)
    out.put("ann.hnsw_insert_us", insertUs, "rows" -> n.toString)
    val qs = vecs.slice(n, n + 200)
    qs.take(50).foreach(idx.search(_, 10, cfg.efSearch))
    val per = qs.map(q => timeIt(1)(idx.search(q, 10, cfg.efSearch)) / 1e3)
    out.put("ann.hnsw_search_us", Stats.median(per.toSeq), "queries" -> qs.length.toString)
  }

  /** dsl.parse_us: DslParser on the run's own statements, warmed up. */
  def dslMetrics(stmts: Seq[String], ai: Boolean, out: Report): Unit = {
    def parse(s: String) =
      if (ai) graft.dsl.DslParser.parseAi(s) else graft.dsl.DslParser.parseDb(s)
    (0 until 5).foreach(_ => stmts.foreach(parse))
    val per = stmts.map(s => timeIt(3)(parse(s)) / 1e3)
    out.put("dsl.parse_us", Stats.median(per), "statements" -> stmts.length.toString)
  }

  /** ai.embed_us_per_input: the store's embedder on the run's inputs. */
  def embedMetrics(model: String, texts: Seq[String], out: Report): Unit = {
    val e = graft.ai.Embedders.forModel(model)
    val inputs = texts.map(t => graft.types.MetadataValue.RawString(t))
    (0 until 5).foreach(_ => e.embed(inputs))
    out.put("ai.embed_us_per_input", timeIt(7)(e.embed(inputs)) / 1e3 / inputs.length,
      "inputs" -> inputs.length.toString)
  }

  /** Cached block-manager memory, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}
