package perfbench

import org.apache.spark.sql.SparkSession

/** Shared sizes: the product table both workloads start from. */
object Sizes {
  val Rows = 10000L
  val Dims = 2688
  val K = 100
}

/** What one pass over a workload's timed sequence measured. */
final class Outcome {
  /** latency (ms) of every timed op of the workload's main op type;
    * a failed op is +∞
    */
  val ops = scala.collection.mutable.ArrayBuffer[Double]()
  /** latency (ms) of every top-100 read on tier read_sel_1 */
  val reads = scala.collection.mutable.ArrayBuffer[Double]()
  /** attempted / failed per op type */
  val attempted = scala.collection.mutable.LinkedHashMap[String, Int]()
  val failed = scala.collection.mutable.LinkedHashMap[String, Int]()
  var wallS = 0.0

  def count(opType: String, ok: Boolean): Unit = {
    attempted(opType) = attempted.getOrElse(opType, 0) + 1
    if (!ok) failed(opType) = failed.getOrElse(opType, 0) + 1
    else failed.getOrElseUpdate(opType, 0)
  }
}

/** One output check: how many comparisons ran and how many disagreed. */
final case class Check(name: String, attempted: Int, failed: Int, detail: String = "")

trait Workload {
  def name: String
  /** Build the workload's data in `dir` on `spark` and warm up (untimed
    * warm-up ops of the timed ops' shapes).
    */
  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit
  /** Run the timed sequence; `pass` keeps generated keys of a second pass
    * disjoint from the first.
    */
  def run(spark: SparkSession, tr: Tracer, pass: Int): Outcome
  /** Output checks after the timed sequence; also yields `recall`. */
  def check(spark: SparkSession, tr: Tracer): (Seq[Check], Double)
  /** Per-layer metrics of a traced pass (0 where the layer is bypassed). */
  def layers(attr: Attribution): Map[String, Double]
  def teardown(): Unit
}
