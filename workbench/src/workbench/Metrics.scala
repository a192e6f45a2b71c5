package workbench

import scala.collection.mutable

/** A metric's name, unit and direction. `declared` metrics are the ones
  * BENCHMARK.json lists: every workload emits them in the last output line
  * (end-to-end with tracing off, per-layer with tracing on). The rest are
  * workload-specific and appear in the report line only. */
final case class Spec(name: String, unit: String, better: String,
    perLayer: Boolean, declared: Boolean)

object Metrics {
  private def e2e(n: String, u: String, b: String, declared: Boolean) =
    Spec(n, u, b, perLayer = false, declared)
  private def layer(n: String, u: String, b: String, declared: Boolean) =
    Spec(n, u, b, perLayer = true, declared)

  /** Per-call job attribution, one family per op class. */
  val callFields: Seq[(String, String)] = Seq("wall_ms" -> "ms", "jobs" -> "count",
    "tasks" -> "count", "task_ms" -> "ms", "shuffle_bytes" -> "bytes", "driver_ms" -> "ms")
  val opClasses: Seq[String] = Seq("set", "delkey", "delpred", "upsert",
    "getsimn_linear", "getsimn_ann", "getpred", "getkey")
  /** Op families every workload issues: declared in BENCHMARK.json. */
  val commonFamilies: Seq[String] = Seq("getsimn", "getpred")

  val all: Seq[Spec] = Seq(
    e2e("setup_s", "s", "lower", declared = true),
    e2e("getsimn_ann_iqm_ms", "ms", "lower", declared = false),
    e2e("getsimn_linear_iqm_ms", "ms", "lower", declared = false),
    e2e("read_p50_ms", "ms", "lower", declared = false),
    e2e("read_tail_ms", "ms", "lower", declared = false),
    e2e("ops_per_s", "ops/s", "higher", declared = true),
    e2e("store_mem_mb", "MB", "lower", declared = true),
    e2e("write_p50_ms", "ms", "lower", declared = false),
    e2e("write_tail_ms", "ms", "lower", declared = false),
    e2e("failed_frac", "fraction", "lower", declared = false),
    e2e("recall_at_10", "fraction", "higher", declared = false),
    e2e("bytes_per_user_byte", "ratio", "lower", declared = false),
    e2e("restart_ms", "ms", "lower", declared = false),
    layer("dsl.parse_us", "us", "lower", declared = true),
    layer("ai.embed_us_per_input", "us", "lower", declared = true),
    layer("ai.set.self_ms", "ms", "lower", declared = true),
    layer("ai.getsimn.self_ms", "ms", "lower", declared = true),
    layer("engine.store_partitions", "count", "lower", declared = true),
    layer("engine.version", "count", "lower", declared = false),
    layer("ann.build_s", "s", "lower", declared = false),
    layer("ann.hnsw_insert_us", "us", "lower", declared = true),
    layer("ann.hnsw_search_us", "us", "lower", declared = true),
    layer("ann.routed.append", "count", "lower", declared = false),
    layer("ann.routed.compact", "count", "lower", declared = false),
    layer("ann.routed.tombstone", "count", "lower", declared = false),
    layer("ann.routed.recluster", "count", "lower", declared = false),
    layer("functions.cosine_ns_per_row", "ns", "lower", declared = true),
    layer("functions.l2_ns_per_row", "ns", "lower", declared = true),
    layer("persistence.bytes_written_per_write", "bytes", "lower", declared = false),
    layer("persistence.files", "count", "lower", declared = false),
    layer("persistence.bytes", "bytes", "lower", declared = false),
    layer("persistence.load_ms", "ms", "lower", declared = false),
    layer("persistence.first_query_ms", "ms", "lower", declared = false),
    layer("jvm.gc_ms_per_op", "ms", "lower", declared = true),
    layer("spark.storage_mb", "MB", "lower", declared = true),
    layer("trace.overhead_frac", "fraction", "lower", declared = true),
  ) ++ (opClasses ++ commonFamilies).flatMap(op => callFields.map { case (f, u) =>
    layer(s"engine.$op.$f", u, "lower", declared = commonFamilies.contains(op))
  })

  private val byName: Map[String, Spec] = all.map(s => s.name -> s).toMap
  def spec(name: String): Spec =
    byName.getOrElse(name, throw new IllegalArgumentException(s"unregistered metric $name"))

  def declared(perLayer: Boolean): Seq[Spec] =
    all.filter(s => s.declared && s.perLayer == perLayer)
}

/** Metric values of one run, with notes (percentile, sample count). */
final class Report {
  val values = mutable.LinkedHashMap[String, (Double, Seq[(String, String)])]()
  def put(name: String, value: Double, notes: (String, String)*): Unit = {
    Metrics.spec(name)
    values(name) = (value, notes)
  }

  /** The report line: every metric measured, with unit and direction. */
  def reportJson(header: Seq[(String, String)]): String = {
    val ms = values.map { case (n, (v, notes)) =>
      val s = Metrics.spec(n)
      val fields = Seq("value" -> Json.num(v), "unit" -> Json.str(s.unit),
        "better" -> Json.str(s.better),
        "scope" -> Json.str(if (s.perLayer) "per_layer" else "end_to_end")) ++
        notes.map { case (k, x) => k -> Json.str(x) }
      Json.str(n) + ": " + Json.obj(fields)
    }
    Json.obj(header.map { case (k, v) => k -> Json.str(v) } :+
      ("metrics" -> ms.mkString("{", ", ", "}")))
  }

  /** The result line: exactly the declared metrics of the mode. */
  def resultJson(perLayer: Boolean, attempted: Int, failed: Int): String = {
    val specs = Metrics.declared(perLayer)
    val missing = specs.map(_.name).filterNot(values.contains)
    require(missing.isEmpty, s"declared metrics not measured: ${missing.mkString(", ")}")
    val ms = specs.map(s => Json.str(s.name) + ": " +
      Json.obj(Seq("value" -> Json.num(values(s.name)._1), "unit" -> Json.str(s.unit))))
    Json.obj(Seq("correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> ms.mkString("{", ", ", "}")))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.lang.Double.toString(v)
  }
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}
