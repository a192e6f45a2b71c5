package workbench

import org.apache.spark.sql.SparkSession

/** Entry points:
  *  - `run --workload W --seed N --seconds S --trace 0|1 --dir D`: one run
  *    (run.py wraps this); prints the report line, then the result line;
  *  - `digest --workload W --seed N`: digest of the generated inputs and op
  *    streams (the benchmark's determinism test);
  *  - `metrics`: the metric registry as JSON lines (name, unit, better). */
object Main {
  /** Setup repetitions per run; setup_s is their median. */
  val SetupReps = 3
  val WarmupSeconds = 6.0

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("run") => run(opts("workload"), opts("seed").toLong,
        opts("seconds").toDouble, opts("trace") == "1", opts("dir"))
      case Some("digest") =>
        val w = Workload(opts("workload"), Ctx(null, opts("seed").toLong, "", null))
        println(w.digest(opts.get("ops").map(_.toInt).getOrElse(300)))
      case Some("metrics") =>
        Metrics.all.foreach(s => println(Json.obj(Seq("name" -> Json.str(s.name),
          "unit" -> Json.str(s.unit), "better" -> Json.str(s.better),
          "per_layer" -> s.perLayer.toString, "declared" -> s.declared.toString))))
      case _ =>
        System.err.println("usage: run|digest|metrics [--workload W --seed N --seconds S --trace 0|1 --dir D]")
        sys.exit(2)
    }
  }

  private def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, dir: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[1]")
      .appName(s"workbench-$name")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val t0 = System.nanoTime()
      val rec = new Recorder(spark)
      val w = Workload(name, Ctx(spark, seed, dir, rec))
      val out = new Report

      val setups = (0 until SetupReps).map(r => secondsOf(w.setup(r)))
      out.put("setup_s", Stats.median(setups), "reps" -> setups.length.toString)
      out.put("store_mem_mb", Layers.storageMb(spark))
      System.err.println(s"workbench: setup ${setups.map(x => f"$x%.2f").mkString(" ")} s")

      w.warmUp(WarmupSeconds)
      System.err.println(f"workbench: window opens at ${(System.nanoTime() - t0) / 1e9}%.1f s")
      rec.resetWindow()
      val gc0 = Layers.gcMs()
      val window = ClosedLoop.run(seconds, w.clients, w.pass)
      val gcMs = Layers.gcMs() - gc0
      System.err.println(f"workbench: window closed at ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val calls = rec.calls.filter(_.ok)
      calls.groupBy(_.cls).toSeq.sortBy(_._1).foreach { case (cls, cs) =>
        System.err.println(f"workbench: $cls%-16s n=${cs.length}%3d " +
          f"median ${Stats.median(cs.map(_.wallNs / 1e6))}%.0f ms")
      }
      def latency(write: Boolean, p50: String, tail: String): Unit = {
        val xs = calls.filter(_.write == write).map(_.wallNs / 1e6)
        if (xs.nonEmpty) {
          val (p, v) = Stats.tail(xs)
          out.put(p50, Stats.median(xs), "n" -> xs.length.toString)
          out.put(tail, v, "percentile" -> p.toString, "n" -> xs.length.toString,
            "beyond" -> xs.count(_ > v).toString)
        }
      }
      latency(write = false, "read_p50_ms", "read_tail_ms")
      // one figure per GetSimN class: index searches and linear scans form
      // separate latency clusters, and a pooled median jumps between them.
      // Within a class, reads soon after a write run slower, so the figure
      // is the interquartile mean, which a shifting mix moves smoothly.
      Seq("getsimn_ann", "getsimn_linear").foreach { cls =>
        val xs = calls.filter(_.cls == cls).map(_.wallNs / 1e6)
        if (xs.nonEmpty) out.put(s"${cls}_iqm_ms", Stats.iqm(xs), "n" -> xs.length.toString,
          "p50" -> Stats.median(xs).toString)
      }
      latency(write = true, "write_p50_ms", "write_tail_ms")
      val opsPerS = ClosedLoop.opsPerS(calls, window)
      out.put("ops_per_s", opsPerS, "clients" -> w.clients.length.toString,
        "window_s" -> ((window._2 - window._1) / 1e9).toString)

      if (trace) traced(spark, w, rec, out, seconds, opsPerS, gcMs, calls.length)

      rec.runChecks()
      w.finish(out)
      rec.runChecks()
      out.put("failed_frac", rec.failed.toDouble / math.max(1, rec.attempted),
        "failed" -> rec.failed.toString, "attempted" -> rec.attempted.toString)
      System.err.println(f"workbench: finished at ${(System.nanoTime() - t0) / 1e9}%.1f s")
      println("workbench-report " + out.reportJson(Seq("workload" -> name,
        "seed" -> seed.toString, "trace" -> (if (trace) "1" else "0"))))
      println(out.resultJson(perLayer = trace, math.max(1, rec.attempted), rec.failed))
    } finally spark.stop()
  }

  /** The traced run: the same clients for another window with the
    * benchmark's listener and graft.obs.Trace on, then the kernel probes. */
  private def traced(spark: SparkSession, w: Workload, rec: Recorder, out: Report,
      seconds: Double, untracedOps: Double, gcMs: Long, nCalls: Int): Unit = {
    val listener = new Layers.CallListener
    spark.sparkContext.addSparkListener(listener)
    graft.obs.Trace.reset()
    graft.obs.Trace.enabled = true
    rec.traced = true
    rec.resetWindow()
    val tracedOps = ClosedLoop.opsPerS(rec.calls.filter(_.ok), ClosedLoop.run(seconds, w.clients, w.pass))
    // every op class gets at least three traced samples
    w.classes.foreach { case (cls, _) =>
      val have = rec.calls.count(c => c.ok && c.cls == cls)
      (have until 3).foreach(_ => w.once(cls))
    }
    listener.drain()
    val calls = rec.calls
    graft.obs.Trace.enabled = false
    rec.traced = false
    val present = w.classes.map(_._1).toSet
    val families = Metrics.opClasses.filter(present).map(c => c -> Seq(c)).toMap ++
      Map("getsimn" -> Seq("getsimn_linear", "getsimn_ann"), "getpred" -> Seq("getpred"))
    Layers.callMetrics(calls, listener, out, families)
    if (w.isInstanceOf[Churn]) Layers.routedMetrics(spark, out)
    spark.sparkContext.removeSparkListener(listener)

    out.put("trace.overhead_frac", 1.0 - tracedOps / untracedOps,
      "traced_ops_per_s" -> tracedOps.toString, "untraced_ops_per_s" -> untracedOps.toString)
    out.put("jvm.gc_ms_per_op", gcMs.toDouble / math.max(1, nCalls))
    out.put("spark.storage_mb", Layers.storageMb(spark))
    out.put("engine.store_partitions", w.storePartitions.toDouble)
    Layers.kernelMetrics(w.sampleVectors, out)
    Layers.hnswMetrics(w.sampleVectors, out)
    Layers.dslMetrics(w.dslStatements, w.dslIsAi, out)
    Layers.aiProbe(spark, w.seed, out)
  }
}
