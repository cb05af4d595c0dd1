package perfbench

import org.apache.spark.sql.SparkSession

/** What one timed pass of a workload did: the latency of each
  * operation (an ingest cycle, a mix member) by name, in ms. */
final case class PassResult(opsMs: Seq[(String, Double)], wallS: Double, attempted: Int, failed: Int)

/** Paths and inputs a workload runs on. `state` is the directory the
  * engine's stores and checkpoints go to; it is wiped before every
  * set-up. */
final case class Env(work: String, data: String, pages: String, streamPages: String,
    mixFile: String, goldensFile: String, seed: Long) {
  val state: String = s"$work/state"
}

trait Workload {
  def name: String
  /** Timed passes a run makes at least, however long they take. */
  def minPasses: Int
  /** The warm-up pass that set-up includes. */
  def warm(spark: SparkSession): Unit
  /** One timed pass; the k-th of this run. */
  def pass(spark: SparkSession, tr: Tracer, k: Int): PassResult
  /** Untimed answer checks after the timed passes: (attempted, failed). */
  def verify(spark: SparkSession): (Int, Int)
  /** Store paths whose StoreStats misses are by design (fresh stores). */
  def ownedRoots: Seq[String]
  /** Per-layer metrics from the traced passes' spans (named `<name>.pass`). */
  def layers(spark: SparkSession, tr: Tracer, spans: Seq[Span], self: Map[Int, Long]): Seq[Metric]
}

final case class Metric(name: String, value: Double, unit: String)

object Workload {
  /** Task totals of the jobs among `spans`. */
  def jobSum(spans: Seq[Span], attr: String): Double =
    spans.filter(_.kind == "job").map(_.attrs.getOrElse(attr, 0.0)).sum

  def ms(ns: Long): Double = ns / 1e6
}
