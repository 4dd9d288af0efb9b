package perfbench

import scala.collection.mutable

import graft.functions.HashEmbedder
import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col}

/** The reference workflow through `VectorStore` in its in-memory mode:
  * bulk set, a closed loop of k = 5 text queries with an append batch
  * every `appendEvery` queries, zero-shot over the store, one MLP fit.
  * Each call does little work, so planning and job scheduling bound it. */
final class StoreFlow(seed: Long, tiny: Boolean) extends Workload {
  private val rows = if (tiny) 300 else 10000
  private val queriesPerPass = if (tiny) 12 else 40
  private val appendEvery = if (tiny) 6 else 13
  private val appendRows = if (tiny) 20 else 200
  private val checkEvery = 5
  private val mlpIter = if (tiny) 2 else 3
  private val k = 5
  private val embedder = HashEmbedder(dim = 384)

  private val input = Gen.store(seed, rows, queriesPerPass / appendEvery,
    appendRows, queriesPerPass)
  private val accuracies = mutable.ArrayBuffer[Double]()
  private val zeroshotAccuracy = mutable.ArrayBuffer[Double]()

  def inputStats: Map[String, Any] = {
    val bulk = input.corpus.map(_._1)
    val appended = input.appends.flatten.map(_._1)
    Map("rows" -> bulk.size, "distinct_targets" -> bulk.distinct.size,
      "bytes" -> bulk.map(_.length.toLong).sum,
      "append_batches" -> input.appends.size, "append_rows" -> appended.size,
      "append_overlap" -> appended.count(t => bulk.contains(t) ||
        appended.count(_ == t) > 1).toDouble / math.max(1, appended.size),
      "queries_per_pass" -> queriesPerPass, "dim" -> embedder.dim,
      "topics" -> Gen.Topics.size)
  }

  private def frame(spark: SparkSession, rows: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("target", "option1")

  def setup(spark: SparkSession): Unit = {
    // a tiny store and a few queries warm the ingest and query paths
    val warm = Gen.store(seed + 1, 50, 0, 0, 3)
    val store = new VectorStore(spark, embedder)
    store.setData(frame(spark, warm.corpus))
    warm.queries.foreach(q => store.queryWithInfo(q, k).collect())
    store.reset()
  }

  def generate(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    val store = new VectorStore(spark, embedder)
    val mirror = new Mirror(store.queryPrefix)
    rec.op("bulk_set") {
      rec.span("store.set_data")(store.setData(frame(spark, input.corpus)))
    }
    mirror.add(input.corpus.map(_._1))
    input.queries.zipWithIndex.foreach { case (q, i) =>
      if (i > 0 && i % appendEvery == 0) {
        val batch = input.appends(i / appendEvery - 1)
        rec.op("append") {
          rec.span("store.append")(store.setData(frame(spark, batch), append = true))
        }
        mirror.add(batch.map(_._1))
      }
      var vec: Array[Float] = null
      val rowsOut = rec.op("query") {
        // queryWithInfo = embed with the query prefix, then
        // queryVectorWithInfo; split so each layer gets its own span
        vec = rec.span("functions.embed")(embedder.embedOne(store.queryPrefix + q))
        rec.distances(mirror.size, embedder.dim)
        rec.span("store.query")(rec.collect(store.queryVectorWithInfo(vec, k)))
      }
      if (i % checkEvery == 0) {
        val got = rowsOut.map(r => (r.getAs[Long]("id"), r.getAs[Double]("distance"))).toSeq
        val want = mirror.topK(vec, k)
        rec.check("store_query_matches_brute_force", got == want,
          s"query '$q': store $got vs brute force $want")
      }
    }
    val stored = store.data.count()
    rec.check("store_rows_equal_distinct_targets", stored == mirror.size,
      s"store holds $stored rows, ${mirror.size} distinct targets were ingested")
    rec.op("zeroshot") {
      rec.span("store.zeroshot") {
        store.setZeroshotLabels(Gen.Topics)
        rec.distances(mirror.size.toDouble * Gen.Topics.size, embedder.dim)
        rec.noop(store.doZeroshot())
      }
    }
    zeroshotAccuracy += store.doZeroshot()
      .agg(avg((col("zeroshot_pred") === col("option1")).cast("double")))
      .head().getDouble(0)
    val fit = rec.op("mlp_fit") {
      rec.span("ml.mlp_fit")(store.mlpClassifier("option1", hidden = Seq(16),
        maxIter = mlpIter))
    }
    rec.check("mlp_predicts_every_row", fit.predictions.count() == stored,
      "MLP predictions do not cover the store")
    accuracies += fit.holdoutMetric
    store.reset()
  }

  def endToEnd(rec: Recorder): Map[String, Double] = Map(
    "pass_s" -> Stats.median(Stats.passMs(rec, StoreFlow.Kinds)) / 1e3,
    "op_ms_p50" -> Stats.median(Stats.opMs(rec, "query")),
    "quality" -> Stats.median(zeroshotAccuracy.toSeq))

  def detail(rec: Recorder): Map[String, Metric] = {
    val q = Stats.opMs(rec, "query")
    Map(
      "flow_s" -> Metric(Stats.median(Stats.passMs(rec, StoreFlow.Kinds)) / 1e3, "s"),
      "query_ms_p50" -> Metric(Stats.median(q), "ms"),
      "query_ms_p95" -> Metric(Stats.quantile(q, 0.95), "ms"),
      "query_samples" -> Metric(q.size.toDouble, "count"),
      "append_ms_p50" -> Metric(Stats.median(Stats.opMs(rec, "append")), "ms"),
      "set_data_s" -> Metric(Stats.median(Stats.opMs(rec, "bulk_set")) / 1e3, "s"),
      "mlp_holdout_accuracy" -> Metric(Stats.median(accuracies.toSeq), "ratio"),
      "zeroshot_accuracy" -> Metric(Stats.median(zeroshotAccuracy.toSeq), "ratio"))
  }

  /** Driver-side copy of the store for brute-force answers: first-wins
    * on target, ids assigned in target order per ingest (the store's
    * documented id rule), vectors from the same embedder. */
  private final class Mirror(prefix: String) {
    private val ids = mutable.LinkedHashMap[String, Long]()
    private val vecs = mutable.ArrayBuffer[(Long, Array[Float])]()
    def size: Int = ids.size
    def add(targets: Seq[String]): Unit = {
      var next = ids.size + 1L
      targets.distinct.filterNot(ids.contains).sorted.foreach { t =>
        ids(t) = next
        vecs += next -> embedder.embedOne(prefix + t)
        next += 1
      }
    }
    def topK(q: Array[Float], k: Int): Seq[(Long, Double)] =
      vecs.map { case (id, v) => (id, squaredL2(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(k).toSeq
  }

  private def squaredL2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }
}

object StoreFlow {
  val Kinds = Set("bulk_set", "append", "query", "zeroshot", "mlp_fit")
}
