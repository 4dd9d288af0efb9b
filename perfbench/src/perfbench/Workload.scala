package perfbench

import org.apache.spark.sql.SparkSession

/** A measured metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** One benchmark workload: a seeded input, a set-up the user pays once
  * per session, and a pass of timed ops repeated until the run's time
  * is up. */
trait Workload {
  /** Program fits and warm-up run after each session start. */
  def setup(spark: SparkSession): Unit
  /** Inputs that need a session (files written once, read per op). */
  def generate(spark: SparkSession): Unit
  /** Generated-input statistics for the run record. */
  def inputStats: Map[String, Any]
  /** One pass of the workload's op sequence. */
  def pass(spark: SparkSession, rec: Recorder): Unit
  /** The gated end-to-end metrics, excluding set-up and heap. */
  def endToEnd(rec: Recorder): Map[String, Double]
  /** The workload's own end-to-end metrics, by the names users cite. */
  def detail(rec: Recorder): Map[String, Metric]
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def opMs(rec: Recorder, kind: String): Seq[Double] =
    rec.ops.filter(o => o.ok && o.kind == kind).map(_.ms).toSeq

  /** Per-pass sum of the durations of `kinds`, over complete passes. */
  def passMs(rec: Recorder, kinds: Set[String]): Seq[Double] =
    rec.ops.filter(o => kinds(o.kind)).groupBy(_.pass).values
      .filter(_.forall(_.ok)).map(_.map(_.ms).sum).toSeq
}
