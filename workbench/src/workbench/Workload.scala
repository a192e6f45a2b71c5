package workbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.types.{MetadataValue, StoreSchema}

/** What one workload run shares with the harness. */
final case class Ctx(spark: SparkSession, seed: Long, dir: String, rec: Recorder)

/** One workload: inputs made from the seed, a store built by [[setup]], a
  * closed-loop client mix, result checks, and the workload's own metrics. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.seed
  def rec: Recorder = ctx.rec

  /** Build a fresh store from the generated inputs (timed; repeated, the
    * last build serves the window). `rep` numbers the repetitions. */
  def setup(rep: Int): Unit
  /** Closed-loop clients; client i draws its calls from its own seeded stream. */
  def clients: Seq[() => Unit]
  /** Calls per pass of the op deck of a one-client workload, whose
    * warm-up and windows then hold whole passes; 1 for a time-cut loop. */
  def pass: Int = 1
  /** The untimed warm-up before the window. */
  def warmUp(seconds: Double): Unit = ClosedLoop.run(seconds, clients, pass)
  /** Call classes this workload issues, each tagged read or write. */
  def classes: Seq[(String, Boolean)]
  /** One call of `cls`, for the traced run's top-up of unsampled classes. */
  def once(cls: String): Unit
  /** Post-window measurements and checks (recall, restart, model match). */
  def finish(out: Report): Unit
  /** Partitions of the workload's store frame(s) at the end of the run. */
  def storePartitions: Int
  /** Vectors and DSL statements for the per-layer kernel probes. */
  def sampleVectors: Array[Array[Float]]
  def dslStatements: Seq[String]
  def dslIsAi: Boolean = false
  /** Generated inputs and the first `nOps` calls per client, as a digest. */
  def digest(nOps: Int): String
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "search" => new Search(ctx)
    case "churn"  => new Churn(ctx, concurrent = true)
    case "mutate" => new Churn(ctx, concurrent = false)
    case "rag"    => new Rag(ctx, readOnly = false)
    case "rag_read" => new Rag(ctx, readOnly = true)
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val entrySchema = StructType(StoreSchema.entrySchema.drop(1))

  /** (key, value) entries frame with string metadata, spread over `parts`. */
  def entries(spark: SparkSession, rows: Seq[(Array[Float], Map[String, String])],
      parts: Int): DataFrame = {
    val rs = rows.map { case (k, m) =>
      Row(k.toSeq, m.map { case (a, b) => a -> Row("raw_string", b, null) })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), entrySchema)
  }

  def meta(m: Map[String, String]): Map[String, MetadataValue] =
    m.map { case (k, v) => k -> (MetadataValue.RawString(v): MetadataValue) }

  /** String metadata of a result row's `value` column. */
  def metaOf(r: Row, field: String = "value"): Map[String, String] =
    r.getMap[String, Row](r.fieldIndex(field)).map { case (k, v) => k -> v.getString(1) }.toMap

  def keyOf(r: Row): Array[Float] = r.getSeq[Float](r.fieldIndex("key")).toArray

  def str(v: MetadataValue): String = v match {
    case MetadataValue.RawString(s) => s
    case other => other.toString
  }

  /** Hash-map key over a vector's exact bits. */
  final class KeyW(val v: Array[Float]) {
    override def hashCode: Int = java.util.Arrays.hashCode(v)
    override def equals(o: Any): Boolean = o match {
      case k: KeyW => java.util.Arrays.equals(v, k.v)
      case _ => false
    }
  }

  /** Exact scores, computed by the benchmark. Cosine and euclidean, in double, as the
    * reference kernels define them. */
  def cosine(a: Array[Float], b: Array[Float]): Double =
    graft.functions.Similarity.jvm.cosine(a, b)
  def euclid(a: Array[Float], b: Array[Float]): Double =
    graft.functions.Similarity.jvm.euclidean(a, b)

  /** Check a top-k answer against the exact one: the same length, and at
    * every rank the returned row's exact score equals the exact k-th-best
    * score at that rank (tie-robust: rows with equal scores may swap), and
    * the reported similarity matches the exact score. */
  def checkTopK(got: Seq[(Int, Double)], exactScores: Seq[Double],
      scoreOf: Int => Double): Option[String] = {
    if (got.length != exactScores.length)
      return Some(s"returned ${got.length} rows, expected ${exactScores.length}")
    if (got.map(_._1).distinct.length != got.length)
      return Some("duplicate rows in the answer")
    got.zip(exactScores).zipWithIndex.collectFirst {
      case (((idx, reported), want), rank)
          if idx < 0 || math.abs(scoreOf(idx) - want) > 1e-5 * math.max(1.0, math.abs(want)) ||
            math.abs(reported - want) > 1e-4 * math.max(1.0, math.abs(want)) =>
        s"rank $rank: row $idx scored ${if (idx < 0) Double.NaN else scoreOf(idx)} " +
          s"(reported $reported), exact $want"
    }
  }
}
