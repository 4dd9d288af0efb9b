package perfbench

import scala.collection.mutable

import graft.operators.{IvfIndex, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Batch k-NN over clustered vectors with Zipf-skewed cluster sizes,
  * read back from parquet by every op: exact top-k join, IVF build and
  * IVF batch query for the same queries. Bound by the distance kernels
  * and by the largest probed cell. */
final class AnnBatch(seed: Long, tiny: Boolean, work: String) extends Workload {
  private val rows = if (tiny) 3000L else 100000L
  private val dim = 128
  private val trueClusters = if (tiny) 8 else 48
  private val zipf = 1.1
  private val queries = if (tiny) 24 else 48
  // the first batch of each kind still warms the JIT, and single ops
  // catch host noise; the median of six lies between two warm batches
  private val batches = 6
  private val cells = if (tiny) 8 else 64
  private val nprobe = if (tiny) 3 else 12
  private val sampleFraction = 0.1
  // fixed Lloyd iterations: below the convergence point on every seed,
  // so the build does the same work whatever the data
  private val lloydIters = 4
  private val k = 10
  private val checkSample = if (tiny) 8 else 32
  private val corpusPath = s"$work/ann_corpus.parquet"
  private val indexPath = s"$work/ann_index"

  private var input: Gen.AnnInput = _
  private var truth: Map[Long, Seq[Long]] = Map.empty
  private val recalls = mutable.ArrayBuffer[Double]()

  def inputStats: Map[String, Any] = {
    val sizes = input.clusterSizes.sorted
    Map("rows" -> rows, "dim" -> dim, "bytes" -> rows * dim * 4,
      "clusters" -> trueClusters, "zipf_s" -> zipf,
      "largest_cluster" -> sizes.last, "smallest_cluster" -> sizes.head,
      "cluster_skew_max_over_median" -> sizes.last.toDouble / sizes(sizes.length / 2),
      "queries" -> queries, "ivf_cells" -> cells, "nprobe" -> nprobe)
  }

  private def queryFrame(spark: SparkSession, qs: Seq[(Array[Float], Int)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(qs.map { case (v, i) => Row(i.toLong, v) }, 1),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false)))))

  def setup(spark: SparkSession): Unit = {
    // a small corpus through the exact join warms the distance kernel
    val warm = Gen.ann(spark, seed + 1, 2000, dim, 4, zipf, 4, s"$work/ann_warm.parquet")
    Similarity.topKJoin(spark.read.parquet(warm.path), queryFrame(spark, warm.queries.zipWithIndex),
      k, "id", "vector", "qid", "qvec").collect()
  }

  def generate(spark: SparkSession): Unit = {
    input = Gen.ann(spark, seed, rows, dim, trueClusters, zipf, queries, corpusPath)
  }

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    // the queries run as `batches` equal batches, so each op kind has
    // several samples per pass
    val chunks = input.queries.zipWithIndex.grouped(queries / batches).toSeq
    def frame(c: Seq[(Array[Float], Int)]): DataFrame = queryFrame(spark, c)
    val exactIds = chunks.map { c =>
      answers(rec.op("exact_knn") {
        rec.distances(c.size.toDouble * rows, dim)
        rec.span("operators.exact_topk_join")(rec.collect(
          Similarity.topKJoin(spark.read.parquet(corpusPath), frame(c), k, "id", "vector",
            "qid", "qvec").select("qid", "id", "distance")))
      })
    }.reduce(_ ++ _)
    if (truth.isEmpty) {
      truth = bruteForce(spark, input.queries.take(checkSample))
    }
    truth.foreach { case (q, want) =>
      rec.check("topk_join_matches_brute_force", exactIds.getOrElse(q, Nil) == want,
        s"query $q: topKJoin ${exactIds.getOrElse(q, Nil)} vs brute force $want")
    }
    val idx = rec.op("ivf_build") {
      rec.span("operators.ivf_build") {
        val i = IvfIndex.build(spark.read.parquet(corpusPath), "vector", "id", cells,
          seed = seed, sampleFraction = sampleFraction, maxIter = lloydIters)
        IvfIndex.save(i, indexPath)
        i
      }
    }
    val cellSize =
      if (rec.trace) idx.cellStats.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      else Map.empty[Int, Long]
    val annIds = chunks.map { c =>
      val rows = rec.op("ivf_query") {
        rec.span("operators.ivf_query")(rec.collect(
          IvfIndex.loadSaved(spark, indexPath, "vector", "id")
            .queryBatch(frame(c), "qid", "qvec", k, nprobe)))
      }
      if (rec.trace) {
        // probed cell sizes, counted from outside via the index's stats
        val candidates = c.map { case (q, _) =>
          idx.rankCells(q).take(nprobe).map(cell => cellSize.getOrElse(cell, 0L)).sum
        }.sum.toDouble
        val o = rec.ops.last
        o.counters("distance_evals") = candidates
        o.counters("vector_bytes") = candidates * dim * 4
        o.counters("ivf_candidates_per_query") = candidates / c.size
        o.counters("ivf_useful_ratio") = k * c.size / candidates
      }
      answers(rows)
    }.reduce(_ ++ _)
    rec.check("ivf_answers_every_query", annIds.size == queries,
      s"IVF answered ${annIds.size} of $queries queries")
    recalls += exactIds.map { case (q, want) =>
      annIds.getOrElse(q, Nil).count(want.toSet).toDouble / k
    }.sum / queries
  }

  private def answers(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.map(r => (r.getAs[Long]("qid"), r.getAs[Double]("distance"), r.getAs[Long]("id")))
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(r => (r._2, r._3)).map(_._3).toSeq
      }

  /** Exact top-k for a query sample, computed by the benchmark's own
    * per-partition scan (same squared-L2 summation order as the
    * program's kernel, ties by id). */
  private def bruteForce(spark: SparkSession, qs: Seq[Array[Float]]): Map[Long, Seq[Long]] = {
    val kk = k
    val partial = spark.read.parquet(corpusPath).rdd.mapPartitions { it =>
      val best = Array.fill(qs.length)(mutable.ArrayBuffer[(Double, Long)]())
      it.foreach { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](1)
        var q = 0
        while (q < qs.length) {
          val a = qs(q)
          var acc = 0.0
          var i = 0
          while (i < a.length) {
            val d = v(i).toDouble - a(i).toDouble
            acc += d * d
            i += 1
          }
          best(q) += ((acc, id))
          if (best(q).length > 4 * kk) {
            val keep = best(q).sorted.take(kk)
            best(q).clear()
            best(q) ++= keep
          }
          q += 1
        }
      }
      Iterator(best.map(_.sorted.take(kk).toSeq))
    }.collect()
    qs.indices.map(q => q.toLong ->
      partial.flatMap(_(q)).sorted.take(k).map(_._2).toSeq).toMap
  }

  def endToEnd(rec: Recorder): Map[String, Double] = Map(
    "pass_s" -> Stats.median(Stats.passMs(rec, AnnBatch.Kinds)) / 1e3,
    "op_ms_p50" -> Stats.median(Stats.opMs(rec, "ivf_query")),
    "quality" -> Stats.median(recalls.toSeq))

  def detail(rec: Recorder): Map[String, Metric] = Map(
    "exact_knn_qps" -> Metric(queries / batches / (Stats.median(Stats.opMs(rec, "exact_knn")) / 1e3), "1/s"),
    "index_build_s" -> Metric(Stats.median(Stats.opMs(rec, "ivf_build")) / 1e3, "s"),
    "ann_knn_qps" -> Metric(queries / batches / (Stats.median(Stats.opMs(rec, "ivf_query")) / 1e3), "1/s"),
    "recall_at_10" -> Metric(Stats.median(recalls.toSeq), "ratio"))
}

object AnnBatch {
  val Kinds = Set("exact_knn", "ivf_build", "ivf_query")
}
