package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Vocabularies and sizes are fixed; the seed
  * only draws the documents, vectors and queries, so every seed poses a
  * task of the same size and difficulty. */
object Gen {
  private val syllables = Array("ka", "lo", "mi", "ren", "tas", "vo", "pel",
    "dri", "son", "ga", "lun", "ber", "to", "nix", "ra", "fen", "do", "mar",
    "qui", "sel", "wa", "zor", "hu", "bel", "cra", "dem", "fi", "gor", "ish",
    "jal", "ne", "pro", "sta", "ve", "lin", "mo")

  /** `n` distinct pseudo-words from a fixed stream. */
  def vocabulary(n: Int, salt: Int): Array[String] = {
    val rnd = new Random(7919L * salt + 17)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val k = 2 + rnd.nextInt(3)
      seen += (0 until k).map(_ => syllables(rnd.nextInt(syllables.length))).mkString
    }
    seen.toArray
  }

  private def pick[T](a: IndexedSeq[T], rnd: Random): T = a(rnd.nextInt(a.length))

  // ---------------------------------------------------------------- store

  val Topics: IndexedSeq[String] = IndexedSeq("sports", "finance", "science",
    "music", "travel", "cooking", "health", "politics")
  private lazy val topicWords: IndexedSeq[Array[String]] =
    Topics.indices.map(t => vocabulary(150, 100 + t))
  private lazy val generalWords = vocabulary(400, 99)

  /** One short text of topic `t`: mostly topic words, some shared words,
    * sometimes the topic's own name. */
  def topicText(t: Int, words: Int, rnd: Random): String =
    (0 until words).map { _ =>
      val u = rnd.nextDouble()
      if (u < 0.08) Topics(t)
      else if (u < 0.65) pick(topicWords(t).toIndexedSeq, rnd)
      else pick(generalWords.toIndexedSeq, rnd)
    }.mkString(" ")

  /** The reference workflow's inputs: a bulk corpus of (target, topic),
    * append batches whose targets half repeat stored ones, and queries. */
  final case class StoreInput(corpus: IndexedSeq[(String, String)],
      appends: IndexedSeq[IndexedSeq[(String, String)]],
      queries: IndexedSeq[String])

  def store(seed: Long, rows: Int, appendBatches: Int, appendRows: Int,
      queries: Int): StoreInput = {
    val rnd = new Random(seed)
    def doc(): (String, String) = {
      val t = rnd.nextInt(Topics.length)
      (topicText(t, 10 + rnd.nextInt(7), rnd), Topics(t))
    }
    val corpus = IndexedSeq.fill(rows)(doc())
    val known = scala.collection.mutable.ArrayBuffer[(String, String)]() ++= corpus
    val appends = IndexedSeq.fill(appendBatches) {
      val b = IndexedSeq.fill(appendRows)(
        if (rnd.nextBoolean()) pick(known.toIndexedSeq, rnd) else doc())
      known ++= b
      b
    }
    val qs = IndexedSeq.fill(queries)(
      topicText(rnd.nextInt(Topics.length), 3 + rnd.nextInt(4), rnd))
    StoreInput(corpus, appends, qs)
  }

  // ------------------------------------------------------------------ ann

  /** Clustered vectors with Zipf-skewed cluster sizes, written once. */
  final case class AnnInput(path: String, clusterSizes: Array[Long],
      queries: IndexedSeq[Array[Float]])

  val VectorSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false))))

  def ann(spark: SparkSession, seed: Long, rows: Long, dim: Int,
      clusters: Int, zipf: Double, queries: Int, path: String): AnnInput = {
    val w = (1 to clusters).map(i => 1.0 / math.pow(i, zipf))
    val sizes = w.map(x => (rows * x / w.sum).toLong).toArray
    sizes(0) += rows - sizes.sum
    val bounds = sizes.scanLeft(0L)(_ + _).tail
    val rnd = new Random(seed)
    val spread = 2.0
    val centers = Array.fill(clusters, dim)((rnd.nextGaussian() * spread).toFloat)
    val s = seed
    val data = spark.range(0, rows, 1, 8).rdd.map { id0 =>
      val id = id0.longValue
      var c = 0
      while (bounds(c) <= id) c += 1
      val r = new Random(s * 1000003L + id)
      val v = Array.tabulate(dim)(j => centers(c)(j) + r.nextGaussian().toFloat)
      Row(id, v)
    }
    spark.createDataFrame(data, VectorSchema)
      .write.mode("overwrite").parquet(path)
    val qs = IndexedSeq.fill(queries) {
      // queries follow the corpus mix: popular clusters get more queries
      val u = rnd.nextDouble() * rows
      val c = bounds.indexWhere(_ > u)
      Array.tabulate(dim)(j => centers(c)(j) + rnd.nextGaussian().toFloat)
    }
    AnnInput(path, sizes, qs)
  }

  // ------------------------------------------------------------- curation

  private lazy val stopWords = Array("the", "be", "to", "of", "and", "that",
    "have", "with", "in", "is", "it", "for", "on", "as", "was", "at")
  private lazy val contentWords = vocabulary(3000, 7)

  private def cleanWords(n: Int, rnd: Random): IndexedSeq[String] =
    (0 until n).map { i =>
      val w = if (rnd.nextDouble() < 0.3) pick(stopWords.toIndexedSeq, rnd)
        else pick(contentWords.toIndexedSeq, rnd)
      if (i % 12 == 11) w + "." else w
    }

  def cleanDoc(rnd: Random): String = cleanWords(40 + rnd.nextInt(50), rnd).mkString(" ")

  private def gibberish(rnd: Random): String = (0 until 40 + rnd.nextInt(30)).map { _ =>
    (0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }.mkString(" ")

  private def symbols(rnd: Random): String = (0 until 40 + rnd.nextInt(30)).map { _ =>
    (0 until 2 + rnd.nextInt(5)).map(_ => "0123456789$%#@&*+=/"(rnd.nextInt(19))).mkString
  }.mkString(" ")

  private def lowQuality(rnd: Random): String = rnd.nextInt(3) match {
    case 0 => cleanWords(8 + rnd.nextInt(15), rnd).mkString(" ")
    case 1 => gibberish(rnd)
    case _ => symbols(rnd)
  }

  private def contaminate(evalDoc: String, rnd: Random): String = {
    val passage = evalDoc.split(" ").take(15)
    val host = cleanWords(40 + rnd.nextInt(40), rnd)
    val at = rnd.nextInt(host.length)
    (host.take(at) ++ passage ++ host.drop(at)).mkString(" ")
  }

  private def mutate(doc: String, rnd: Random): String = {
    val ws = doc.split(" ")
    val i = rnd.nextInt(ws.length)
    var w = pick(contentWords.toIndexedSeq, rnd)
    while (w == ws(i)) w = pick(contentWords.toIndexedSeq, rnd)
    ws(i) = w
    ws.mkString(" ")
  }

  /** Documents with planted defects. Copies get larger ids than their
    * originals, so keep-first and keep-lowest-id policies keep the
    * original. */
  final case class CurationInput(docs: IndexedSeq[(Long, String)],
      evalDocs: IndexedSeq[String], bootstrap: IndexedSeq[String],
      exactCopies: Set[Long], nearCopies: Set[Long], lowQuality: Set[Long],
      contaminated: Set[Long],
      stream: IndexedSeq[IndexedSeq[(Long, String)]],
      streamContaminated: Int) {
    def defects: Set[Long] = exactCopies ++ nearCopies ++ lowQuality ++ contaminated
  }

  def curation(seed: Long, base: Int, microBatches: Int,
      batchDocs: Int): CurationInput = {
    val rnd = new Random(seed)
    val evalDocs = IndexedSeq.fill(200)(cleanDoc(rnd))
    val bootstrap = IndexedSeq.fill(1000)(cleanDoc(rnd))
    val originals = IndexedSeq.fill(base)(cleanDoc(rnd))
    val nExact = base / 20
    val nNear = base / 20
    val nLow = base / 20
    val nCont = base * 3 / 100
    val sources = rnd.shuffle(originals.indices.toIndexedSeq).take(nExact + nNear)
    var next = base.toLong
    def ids(n: Int): IndexedSeq[Long] = { val r = next until next + n; next += n; r }
    val exact = ids(nExact).zip(sources.take(nExact).map(originals))
    val near = ids(nNear).zip(sources.drop(nExact).map(i => mutate(originals(i), rnd)))
    val low = ids(nLow).map(_ -> lowQuality(rnd))
    val cont = ids(nCont).map(_ -> contaminate(pick(evalDocs, rnd), rnd))
    val docs = originals.indices.map(i => i.toLong -> originals(i)) ++
      exact ++ near ++ low ++ cont
    // stream docs: fresh clean docs plus repeats of earlier stream docs,
    // copies of batch docs, low-quality docs and contaminated docs (each
    // with its own eval doc, so no two share a passage)
    var evalNext = 0
    var streamCont = 0
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val stream = IndexedSeq.fill(microBatches) {
      val b = IndexedSeq.fill(batchDocs) {
        val u = rnd.nextDouble()
        val text =
          if (u < 0.08 && seen.nonEmpty) pick(seen.toIndexedSeq, rnd)
          else if (u < 0.11) originals(rnd.nextInt(base))
          else if (u < 0.16) lowQuality(rnd)
          else if (u < 0.20 && evalNext < evalDocs.length) {
            evalNext += 1
            streamCont += 1
            contaminate(evalDocs(evalNext - 1), rnd)
          } else cleanDoc(rnd)
        next += 1
        (next - 1) -> text
      }
      seen ++= b.map(_._2)
      b
    }
    CurationInput(docs, evalDocs, bootstrap, exact.map(_._1).toSet,
      near.map(_._1).toSet, low.map(_._1).toSet, cont.map(_._1).toSet,
      stream, streamCont)
  }
}
