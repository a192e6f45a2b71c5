package workbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call into the engine's public API. */
final case class Call(id: Long, cls: String, write: Boolean,
    startMs: Long, startNs: Long, wallNs: Long, ok: Boolean) {
  def endNs: Long = startNs + wallNs
}

/** Times calls, counts failures and queues result checks.
  *
  * A client thread wraps every API call in [[call]]. While `traced` is on,
  * the call's id rides a Spark local property ([[Layers.CallKey]]) for the
  * call's dynamic extent, so the benchmark's own listener can attribute the
  * jobs the call launched; with tracing off nothing but two clock reads is
  * added. Result checks are queued and run after the window, so they never
  * sit inside a timed call or slow the closed loop. */
final class Recorder(spark: SparkSession) {
  @volatile var traced = false
  private val seq = new AtomicLong()
  private val window = new ConcurrentLinkedQueue[Call]()
  private val checks = new ConcurrentLinkedQueue[() => Unit]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attemptedN = new AtomicInteger()

  def call[T](cls: String, write: Boolean)(f: => T): Option[T] = {
    val id = seq.incrementAndGet()
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Layers.CallKey, id.toString)
    attemptedN.incrementAndGet()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var ok = false
    try { val r = f; ok = true; Some(r) }
    catch { case NonFatal(e) => fail(s"$cls threw $e"); None }
    finally {
      val wall = System.nanoTime() - t0
      if (traced) sc.setLocalProperty(Layers.CallKey, null)
      window.add(Call(id, cls, write, startMs, t0, wall, ok))
    }
  }

  /** Queue a result check; it runs in [[runChecks]], after the window. */
  def check(what: String)(ok: => Option[String]): Unit =
    checks.add(() =>
      try ok.foreach(msg => fail(s"$what: $msg"))
      catch { case NonFatal(e) => fail(s"$what: check threw $e") })

  def fail(msg: String): Unit = {
    failures.add(msg)
    System.err.println(s"workbench: FAILED $msg")
  }

  def runChecks(): Unit = {
    var c = checks.poll()
    while (c != null) { c(); c = checks.poll() }
  }

  /** Calls recorded since the last [[resetWindow]]. */
  def calls: Seq[Call] = window.asScala.toSeq
  def resetWindow(): Unit = window.clear()
  def attempted: Int = attemptedN.get()
  def failed: Int = failures.size
}

/** Closed-loop runner: each client sends its next call only after the
  * previous one returned, until the deadline. A call in flight at the
  * deadline runs to completion, so its latency counts. With `pass` > 1 a
  * client also finishes its current pass of `pass` calls, so a one-client
  * window holds whole passes of its op deck: the same mix in every run,
  * wherever the deadline falls. */
object ClosedLoop {
  /** Calls done by `stop`, counting a call in flight at `stop` by the
    * share of it that ran before. Whole-call counts would move in steps of
    * one multi-second write on a time-cut loop. */
  def completed(calls: Seq[Call], stop: Long): Double =
    calls.map(c => math.min(1.0, math.max(0.0, (stop - c.startNs).toDouble / c.wallNs))).sum

  /** Returns (start, stop) in nanoTime: stop is the deadline for a
    * time-cut loop (`pass` = 1), else the moment the last pass ended. */
  def run(seconds: Double, clients: Seq[() => Unit], pass: Int = 1): (Long, Long) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val end = new AtomicLong(deadline)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = clients.zipWithIndex.map { case (step, i) =>
      val t = new Thread(() =>
        try {
          var n = 0L
          while (System.nanoTime() < deadline || n % pass != 0) { step(); n += 1 }
          end.accumulateAndGet(System.nanoTime(), math.max)
        } catch { case e: Throwable => errors.add(e) }, s"workbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
    (t0, if (pass == 1) deadline else end.get)
  }

  /** Calls per second of a window that ran from `start` to `stop`. */
  def opsPerS(calls: Seq[Call], window: (Long, Long)): Double =
    completed(calls, window._2) / ((window._2 - window._1) / 1e9)
}

/** Order statistics over a sample. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Interquartile mean: the mean of the middle half of the sample (all of
    * it below four samples). */
  def iqm(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "iqm of an empty sample")
    val cut = xs.length / 4
    val mid = xs.sorted.slice(cut, xs.length - cut)
    mid.sum / mid.length
  }

  /** The highest of p50/75/90/95/99 that leaves at least 10 samples
    * beyond it (p50 when none does): (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ladder = Seq(50.0, 75.0, 90.0, 95.0, 99.0)
    val n = xs.length
    val p = ladder.filter(p => n - math.ceil(n * p / 100.0) >= 10)
      .lastOption.getOrElse(50.0)
    (p, quantile(xs, p / 100.0))
  }
}
