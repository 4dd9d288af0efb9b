package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, each per timed op. Every
  * workload reports every metric; a layer the workload does not call
  * reads 0. */
object Layers {
  /** Span self time in ms, averaged over the span's occurrences. */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "store.set_data_ms" -> "store.set_data",
    "store.query_ms" -> "store.query",
    "store.append_ms" -> "store.append",
    "store.zeroshot_ms" -> "store.zeroshot",
    "functions.embed_ms" -> "functions.embed",
    "operators.exact_topk_join_ms" -> "operators.exact_topk_join",
    "operators.ivf_build_ms" -> "operators.ivf_build",
    "operators.ivf_query_ms" -> "operators.ivf_query",
    "operators.exact_dedup_ms" -> "operators.exact_dedup",
    "operators.minhash_dedup_ms" -> "operators.minhash_dedup",
    "operators.quality_ms" -> "operators.quality",
    "operators.decontam_ms" -> "operators.decontam",
    "ml.mlp_fit_ms" -> "ml.mlp_fit")

  /** Op counters, averaged over the ops that record them. */
  val CounterMetrics: Seq[(String, String, String)] = Seq(
    ("functions.distance_evals", "distance_evals", "count"),
    ("functions.vector_bytes_scanned", "vector_bytes", "bytes"),
    ("operators.ivf_candidates_per_query", "ivf_candidates_per_query", "count"),
    ("operators.ivf_useful_ratio", "ivf_useful_ratio", "ratio"),
    ("operators.keep_ratio", "keep_ratio", "ratio"),
    ("streaming.state_rows", "state_rows", "count"))

  /** Spark listener numbers, averaged over all timed ops. */
  val SparkMetrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.planning_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.task_skew" -> "ratio", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "spark.output_rows" -> "count")

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(rec: Recorder, perOp: Map[Int, Map[String, Double]],
      l: Listeners): Seq[(String, (Double, String))] = {
    val self = rec.selfMs
    val spans = SpanMetrics.map { case (metric, span) =>
      metric -> (mean(rec.spans.filter(_.name == span).map(s => self(s.id))), "ms")
    }
    val counters = CounterMetrics.map { case (metric, counter, unit) =>
      metric -> (mean(rec.ops.flatMap(_.counters.get(counter))), unit)
    }
    val ops = rec.ops.filter(_.ok).toSeq
    val spark = SparkMetrics.map { case (metric, unit) =>
      val vals = ops.flatMap(o => perOp.get(o.id)).map(_(metric))
      val v = if (metric == "spark.task_skew") mean(vals.filter(_ > 0)) else mean(vals)
      metric -> (v, unit)
    }
    val progress = l.streamEvents.progress.asScala.toSeq
    val micro = ops.filter(_.kind == "microbatch")
    val streaming = Seq(
      "streaming.batch_ms" -> (mean(progress.map(_.triggerMs.toDouble)), "ms"),
      "streaming.add_batch_ms" -> (mean(progress.map(_.addBatchMs.toDouble)), "ms"),
      "streaming.jobs_per_batch" ->
        (mean(micro.flatMap(o => perOp.get(o.id)).map(_("spark.jobs"))), "count"))
    spans ++ counters ++ streaming ++ spark
  }
}
