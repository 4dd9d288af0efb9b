package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import graft.functions.TextFunctions.gopherRules
import graft.operators.{Dedup, TextAnalysis}
import graft.streaming.StreamIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** LLM-data curation over documents with planted defects. A batch
  * phase (exact dedup, MinHash near-dup dedup, quality gate,
  * decontamination) and a stream phase (micro-batches through the
  * streaming curation funnel, closed loop). Bound by shuffles and job
  * counts in the text kernels; no vector kernel runs. */
final class CurationStream(seed: Long, tiny: Boolean) extends Workload {
  private val baseDocs = if (tiny) 300 else 1000
  private val microBatches = if (tiny) 2 else 3
  private val batchDocs = if (tiny) 60 else 100
  // gate thresholds, passed to the funnel and used by the batch gate so
  // the two agree; the LM floor sits between clean text and gibberish
  private val minWords = 30L
  private val minAlpha = 0.8
  private val minLm = -3.2
  private val maxContamination = 0.05
  private val dupK = 20

  private val input = Gen.curation(seed, baseDocs, microBatches, batchDocs)
  private var lm: java.util.HashMap[String, java.lang.Double] = _
  private val f1s = mutable.ArrayBuffer[Double]()
  private val keepRatios = mutable.ArrayBuffer[Double]()
  private var streamTruth: Option[(Long, Long, Long)] = None

  def inputStats: Map[String, Any] = {
    val n = input.docs.size.toDouble
    val stream = input.stream.flatten
    Map("rows" -> input.docs.size, "bytes" -> input.docs.map(_._2.length.toLong).sum,
      "exact_dup_fraction" -> input.exactCopies.size / n,
      "near_dup_fraction" -> input.nearCopies.size / n,
      "low_quality_fraction" -> input.lowQuality.size / n,
      "contaminated_fraction" -> input.contaminated.size / n,
      "eval_docs" -> input.evalDocs.size, "bootstrap_docs" -> input.bootstrap.size,
      "stream_rows" -> stream.size, "micro_batches" -> microBatches,
      "stream_contaminated" -> input.streamContaminated,
      "stream_repeat_fraction" ->
        (stream.size - stream.map(_._2).distinct.size).toDouble / stream.size)
  }

  private def docs(spark: SparkSession, d: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(d).toDF("doc_id", "text")

  private def evalFrame(spark: SparkSession): DataFrame =
    docs(spark, input.evalDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  def setup(spark: SparkSession): Unit = {
    // the LM is fit once on a bootstrap slice, as a stream requires
    lm = TextAnalysis.charBigramModel(
      spark.createDataFrame(input.bootstrap.map(Tuple1(_))).toDF("text"), "text")
    Dedup.exactFirstWins(docs(spark, input.docs.take(50)), Seq("text"), Seq("doc_id"))
      .collect()
  }

  def generate(spark: SparkSession): Unit = ()

  /** Gopher gate (the funnel's thresholds) and the pre-fit LM gate. */
  private def qualityGate(df: DataFrame): DataFrame =
    df.withColumn("__g", gopherRules(col("text")))
      .where(col("__g.n_words") >= minWords && col("__g.alpha_word_ratio") >= minAlpha)
      .drop("__g")
      .join(TextAnalysis.scoreWithBigramModel(df, "doc_id", "text", lm)
        .where(col("lm_score") >= minLm).select("doc_id"), Seq("doc_id"), "left_semi")

  private def contaminatedIds(df: DataFrame, evalDocs: DataFrame,
      hashGrams: Boolean): DataFrame =
    Dedup.benchmarkOverlap(df, evalDocs, "doc_id", "text", k = dupK, hashGrams = hashGrams)
      .where(col("contamination_ratio") >= maxContamination).select("doc_id")

  private def batchPhase(spark: SparkSession, all: DataFrame, evalDocs: DataFrame,
      rec: Recorder): (DataFrame, DataFrame) = {
    val exact = rec.op("exact_dedup") {
      rec.span("operators.exact_dedup")(
        rec.checkpoint(Dedup.exactFirstWins(all, Seq("text"), Seq("doc_id"))))
    }
    val near = rec.op("minhash_dedup") {
      rec.span("operators.minhash_dedup")(
        rec.checkpoint(Dedup.dedupNearMinHash(exact, "doc_id", "text")))
    }
    val good = rec.op("quality") {
      rec.span("operators.quality")(rec.checkpoint(qualityGate(near)))
    }
    val kept = rec.op("decontam") {
      rec.span("operators.decontam")(rec.checkpoint(
        good.join(contaminatedIds(good, evalDocs, hashGrams = true), Seq("doc_id"),
          "left_anti")))
    }
    (exact, kept)
  }

  private def streamPhase(spark: SparkSession, batches: Seq[Seq[(Long, String)]],
      evalDocs: DataFrame, rec: Recorder, name: String): StreamIngest.CurationStageCounts = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val survivors = new ConcurrentLinkedQueue[Long]()
    val funnel = StreamIngest.streamingCurationFunnel(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text", lm, evalDocs,
      minLmScore = minLm, minWords = minWords, minAlphaRatio = minAlpha,
      maxContamination = maxContamination, dupK = dupK,
      onSurvivors = df => df.select("doc_id").collect().foreach(r => survivors.add(r.getLong(0))),
      queryName = name)
    try {
      batches.foreach { b =>
        rec.op("microbatch") {
          rec.span("streaming.microbatch") {
            source.addData(b)
            funnel.query.processAllAvailable()
          }
          rec.count("state_rows", funnel.counts.total.toDouble)
        }
      }
      val c = funnel.counts
      rec.check("stream_survivors_match_final_stage", survivors.size == c.decontam,
        s"${survivors.size} survivors vs decontam count ${c.decontam}")
      c
    } finally funnel.query.stop()
  }

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    val all = docs(spark, input.docs)
    val evalDocs = evalFrame(spark)
    val (exact, kept) = batchPhase(spark, all, evalDocs, rec)
    val exactDrops = input.docs.size - exact.count()
    rec.check("exact_dup_drops_equal_planted", exactDrops == input.exactCopies.size,
      s"exact dedup dropped $exactDrops, planted ${input.exactCopies.size}")
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val removed = input.docs.map(_._1).toSet -- keptIds
    val hit = (removed & input.defects).size.toDouble
    f1s += 2 * hit / (removed.size + input.defects.size)
    keepRatios += keptIds.size.toDouble / input.docs.size
    rec.ops.last.counters("keep_ratio") = keptIds.size.toDouble / input.docs.size

    val c = streamPhase(spark, input.stream, evalDocs, rec, s"perfbench-curation-${rec.pass}")
    val stages = Seq(c.total, c.gopher, c.lm, c.dupspan, c.neardup, c.decontam)
    rec.check("stream_stage_counts_never_increase",
      stages.zip(stages.tail).forall { case (a, b) => a >= b }, s"stage counts $stages")
    val (gopher, gopherLm, contaminated) = streamTruth.getOrElse {
      val t = batchTruth(spark, evalDocs)
      streamTruth = Some(t)
      t
    }
    rec.check("stream_gopher_equals_batch", c.gopher == gopher,
      s"stream gopher ${c.gopher} vs batch $gopher")
    rec.check("stream_lm_equals_batch", c.lm == gopherLm,
      s"stream LM ${c.lm} vs batch $gopherLm")
    rec.check("stream_decontam_equals_batch", c.neardup - c.decontam == contaminated,
      s"stream decontam dropped ${c.neardup - c.decontam}, batch flags $contaminated")
  }

  /** Batch counts on the stream's documents with the funnel's own
    * thresholds: docs passing gopher, passing gopher and LM, and the
    * contaminated first copies among those. The last equals the
    * funnel's decontam drops because planted contaminated stream docs
    * are otherwise clean and unique. */
  private def batchTruth(spark: SparkSession, evalDocs: DataFrame): (Long, Long, Long) = {
    val stream = docs(spark, input.stream.flatten)
    val gopher = stream.withColumn("__g", gopherRules(col("text")))
      .where(col("__g.n_words") >= minWords && col("__g.alpha_word_ratio") >= minAlpha)
      .count()
    val gated = qualityGate(stream)
    val firsts = Dedup.exactFirstWins(gated, Seq("text"), Seq("doc_id"))
    (gopher, gated.count(), contaminatedIds(firsts, evalDocs, hashGrams = false).count())
  }

  def endToEnd(rec: Recorder): Map[String, Double] = Map(
    "pass_s" -> Stats.median(Stats.passMs(rec, CurationStream.Kinds)) / 1e3,
    "op_ms_p50" -> Stats.median(Stats.opMs(rec, "microbatch")),
    "quality" -> Stats.median(f1s.toSeq))

  def detail(rec: Recorder): Map[String, Metric] = {
    val mb = Stats.opMs(rec, "microbatch")
    val streamDocs = input.stream.map(_.size).sum.toDouble
    Map(
      "batch_phase_s" -> Metric(
        Stats.median(Stats.passMs(rec, CurationStream.BatchKinds)) / 1e3, "s"),
      "curation_docs_per_s" -> Metric(input.docs.size /
        (Stats.median(Stats.passMs(rec, CurationStream.BatchKinds)) / 1e3), "1/s"),
      "stream_docs_per_s" -> Metric(streamDocs /
        (Stats.median(Stats.passMs(rec, Set("microbatch"))) / 1e3), "1/s"),
      "microbatch_ms_p50" -> Metric(Stats.median(mb), "ms"),
      "defect_f1" -> Metric(Stats.median(f1s.toSeq), "ratio"),
      "keep_ratio" -> Metric(Stats.median(keepRatios.toSeq), "ratio"))
  }
}

object CurationStream {
  val BatchKinds = Set("exact_dedup", "minhash_dedup", "quality", "decontam")
  val Kinds = BatchKinds + "microbatch"
}
