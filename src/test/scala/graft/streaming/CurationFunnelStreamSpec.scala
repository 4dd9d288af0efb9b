package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming curation funnel's accumulated stage counts must
  * reconcile with the registered batch `curation_funnel` report on the
  * same documents — per the documented per-stage contracts: gopher /
  * LM / decontamination are split-invariant per-row flags; dup-span
  * parity needs cross-doc span duplication inside one trigger; the
  * near-dup count agrees on clique-shaped duplicate clusters. The
  * fixture honors those horizons (each engineered duplication lands in
  * one micro-batch) and exercises attrition at four distinct stages. */
class CurationFunnelStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  // varied 32-word quality docs with no shared 20-char substrings
  private def quality(seed: Int): String =
    (1 to 32).map(i => f"word$seed%02dx$i%02d").mkString(" ")

  private val evalText40 =
    "held out benchmark passage about rivers " + quality(90)
  private val contaminatedText =
    quality(91) + " held out benchmark passage about rivers " + quality(92)

  // (doc_id, text, micro-batch index)
  private val fixture: Seq[(Long, String, Int)] = Seq(
    // batch 0: clean quality docs + gopher failures (too few words)
    (1L, quality(1), 0), (2L, quality(2), 0), (3L, quality(3), 0),
    (4L, quality(4), 0), (5L, quality(5), 0),
    (9L, "short doc of nine words only not thirty total", 0),
    (11L, "another short one far below the word floor here", 0),
    // batch 1: gibberish (LM kill) + self-repetition (dup-span kill)
    (13L, (1 to 32).map(_ => "zxqv").mkString(" "), 1),
    (17L, (1 to 16).map(i => s"qqj$i wvvk$i").mkString(" "), 1),
    (21L, (1 to 12).map(_ => "the exact same twenty five char phrase")
      .mkString(" "), 1),
    (23L, quality(23), 1), (25L, quality(25), 1),
    // batch 2: an exact-duplicate clique (in ONE trigger), the eval
    // docs (ids ≡ 0 mod 20 — the registered funnel's benchmark side),
    // and corpus docs contaminated by an eval passage
    (31L, quality(31) + " " + quality(77), 2),
    (32L, quality(31) + " " + quality(77), 2),
    (33L, quality(31) + " " + quality(77), 2),
    (40L, evalText40, 2),
    (60L, "second benchmark sheet " + quality(93), 2),
    (41L, contaminatedText, 2),
    (43L, quality(43), 2))

  test("accumulated streaming stage counts equal the batch " +
      "curation_funnel report on the same documents") {
    val docs = fixture.map(t => (t._1, t._2)).toDF("doc_id", "text")
    // batch side: the registered query over the fixture as a table
    // (the shared flags frame carries source/lang, so the fixture
    // table declares them like the real documents table does)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curstream-").toAbsolutePath.toString
    docs.withColumn("source", lit("fix"))
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batchReport = graft.SparkEntry.queries("curation_funnel")(
        spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // streaming side: same thresholds, LM model pre-fit on the same
    // corpus (what the batch fit does), benchmark = ids ≡ 0 mod 20
    val lmModel = graft.operators.TextAnalysis.charBigramModel(
      docs, "text")
    val benchmark = docs.where(col("doc_id") % 20 === 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val funnel = StreamIngest.streamingCurationFunnel(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      lmModel, benchmark)
    try {
      for (b <- 0 to 2) {
        source.addData(fixture.filter(_._3 == b).map(t => (t._1, t._2)))
        funnel.query.processAllAvailable()
      }
      val c = funnel.counts
      val streamed = Map(1L -> c.total, 2L -> c.gopher, 3L -> c.lm,
        4L -> c.dupspan, 5L -> c.neardup, 6L -> c.decontam)
      assert(streamed === batchReport,
        s"streaming $streamed vs batch $batchReport")
      // the fixture must actually exercise the funnel: attrition at
      // the gopher, dup-span (clique + self-repeat), and decontam
      // stages, and full passage for the clean docs
      assert(c.total == fixture.size.toLong)
      assert(c.gopher < c.total, "gopher stage killed nothing")
      assert(c.dupspan < c.lm, "dup-span stage killed nothing")
      assert(c.decontam < c.neardup, "decontam stage killed nothing")
      assert(c.decontam >= 8L, "clean quality docs must survive")
    } finally funnel.query.stop()
  }

  test("micro-batch boundary invariance holds exactly where the " +
      "contract says: total/gopher/LM counts are per-row flags " +
      "(equal under one-doc-per-batch chopping); dupspan's per-batch " +
      "horizon legitimately moves (never killing MORE under " +
      "chopping), and the exact clique still loses all but one " +
      "member to the cross-batch seen-state") {
    val docs = fixture.map(t => (t._1, t._2)).toDF("doc_id", "text")
    val lmModel = graft.operators.TextAnalysis.charBigramModel(
      docs, "text")
    val benchmark = docs.where(col("doc_id") % 20 === 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(batches: Seq[Seq[(Long, String)]]) = {
      val source = MemoryStream[(Long, String)]
      val funnel = StreamIngest.streamingCurationFunnel(
        source.toDF().toDF("doc_id", "text"), "doc_id", "text",
        lmModel, benchmark)
      try {
        batches.foreach { b =>
          source.addData(b)
          funnel.query.processAllAvailable()
        }
        funnel.counts
      } finally funnel.query.stop()
    }
    val whole = run((0 to 2).map(b =>
      fixture.filter(_._3 == b).map(t => (t._1, t._2))))
    val chopped = run(fixture.map(t => Seq((t._1, t._2))))
    // contract-guaranteed invariants (the gate feeder relies on these
    // only as a FALLBACK past its 200k-row slice bound; below the
    // bound it feeds slice-atomic blocks so ALL stages are stable)
    assert(chopped.total == whole.total &&
      chopped.gopher == whole.gopher && chopped.lm == whole.lm,
      s"per-row flag stages must be boundary-invariant: " +
        s"chopped $chopped vs whole $whole")
    // dupspan IS boundary-sensitive by contract: the clique's
    // cross-doc grams duplicate only when co-batched, so chopping can
    // only PASS more docs at the dupspan stage, never kill more
    assert(chopped.dupspan >= whole.dupspan,
      s"chopped $chopped vs whole $whole")
    // the near-dup seen-state must still collapse the exact clique to
    // one survivor even one-doc-per-batch: of the extra docs dupspan
    // now passes (the 3-clique), at most ONE can reach the near-dup
    // stage's pass count — the other copies die to the signature state
    assert(chopped.neardup <= whole.neardup + 1,
      s"seen-state failed to kill later clique copies: " +
        s"chopped $chopped vs whole $whole")
    assert(chopped.neardup >= whole.neardup,
      s"chopped $chopped vs whole $whole")
  }

  /** Runs the funnel over `batches` (one trigger each) with the
    * fixture's LM model and eval docs; returns the accumulated counts,
    * the rows handed to `onSurvivors`, and each trigger's Spark job
    * count (jobs in the query's job group, read after a marker job
    * has passed through the listener bus). */
  private def runFunnel(batches: Seq[Seq[(Long, String)]])
      : (StreamIngest.CurationStageCounts, Seq[(Long, String)], Seq[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val docs = fixture.map(t => (t._1, t._2)).toDF("doc_id", "text")
    val lmModel = graft.operators.TextAnalysis.charBigramModel(
      docs, "text")
    val benchmark = docs.where(col("doc_id") % 20 === 0)
    val sc = spark.sparkContext
    val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val marker = new java.util.concurrent.Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          if (g == "curation-spec-marker") marker.release()
          else byGroup.merge(g, 1, (a: Integer, b: Integer) => a + b)
        }
    }
    sc.addSparkListener(listener)
    val survivors =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val funnel = StreamIngest.streamingCurationFunnel(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      lmModel, benchmark, onSurvivors = df => df.collect().foreach(r =>
        survivors.add((r.getLong(0), r.getString(1)))))
    def jobsSoFar(): Int = {
      sc.setJobGroup("curation-spec-marker", "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS))
      Option(byGroup.get(funnel.query.runId.toString)).fold(0)(_.intValue)
    }
    try {
      val perTrigger = batches.map { b =>
        val before = jobsSoFar()
        source.addData(b)
        funnel.query.processAllAvailable()
        jobsSoFar() - before
      }
      (funnel.counts, survivors.asScala.toSeq, perTrigger)
    } finally {
      funnel.query.stop()
      sc.removeSparkListener(listener)
    }
  }

  test("a repeated doc_id counts ROWS under semi-join semantics: gopher " +
      "is a row flag, later stages pass a row whose id is in their pass " +
      "set; null and one-char texts fail; survivors are the last-flag rows") {
    val gibberishA = (1 to 16).map(i => s"qqj$i wvvk$i").mkString(" ")
    val gibberishB = (1 to 16).map(i => s"zzv$i kkq$i").mkString(" ")
    val batch: Seq[(Long, String)] = Seq(
      // id 1: a clean doc plus a one-word row that fails gopher
      (1L, quality(1)), (1L, "tiny"),
      (2L, quality(2)),
      // id 3: two copies of one doc — both rows pass gopher and LM,
      // and the id fails dup-span (every gram occurs twice)
      (3L, quality(3)), (3L, quality(3)),
      // id 5: a gibberish row (gopher pass, LM fail) and a six-word
      // clean row (gopher fail, LM pass — seed 24's bigrams all occur in
      // the fixture): the gibberish row passes LM because its id is in
      // the LM pass set
      (5L, gibberishA), (5L, quality(24).take(60)),
      // id 7: null text and a one-char text — both fail gopher
      (7L, null), (7L, "x"),
      // id 8: gibberish (LM fail) plus an LM-unscored one-char text,
      // which must not put the id in the LM pass set
      (8L, gibberishB), (8L, "y"))
    // rows by stage: total 11; gopher 1a 2 3 3 5a 8a = 6; LM drops 8a
    // = 5; dup-span drops both rows of 3 = 3; near-dup and decontam
    // drop nothing
    val (c, survivors, _) = runFunnel(Seq(batch))
    assert(c === StreamIngest.CurationStageCounts(11L, 6L, 5L, 3L, 3L, 3L))
    assert(survivors.sorted ===
      Seq((1L, quality(1)), (2L, quality(2)), (5L, gibberishA)))
  }

  test("onSurvivors receives exactly the decontam count, summed over " +
      "triggers, and each micro-batch runs a bounded number of jobs") {
    val (c, survivors, jobs) = runFunnel((0 to 2).map(b =>
      fixture.filter(_._3 == b).map(t => (t._1, t._2))))
    assert(survivors.size.toLong === c.decontam)
    assert(survivors.map(_._1).distinct.size === survivors.size)
    // every stage is evaluated once per trigger: this fixture runs
    // 28/34/52 jobs per trigger (the last trigger's clique adds MIS
    // rounds). With six per-stage count()s, each re-running its stage,
    // it ran 63/68/85. The margin of 5 is below the 6 jobs that
    // per-stage counts alone would add back.
    assert(jobs.forall(_ > 0), s"no jobs seen per trigger: $jobs")
    assert(jobs.zip(Seq(28, 34, 52)).forall { case (n, pin) => n <= pin + 5 },
      s"jobs per trigger: $jobs")
  }

  test("near-dup state spans micro-batches: a later exact copy of an " +
      "already-seen doc fails the near-dup stage") {
    val base = quality(55) + " " + quality(56)
    val lmDocs = Seq((1L, base), (2L, quality(57))).toDF("doc_id", "text")
    val lmModel = graft.operators.TextAnalysis.charBigramModel(
      lmDocs, "text")
    val benchmark = Seq((999L, "unrelated benchmark text entirely"))
      .toDF("doc_id", "text")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val funnel = StreamIngest.streamingCurationFunnel(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      lmModel, benchmark)
    try {
      source.addData(Seq((1L, base)))
      funnel.query.processAllAvailable()
      val after1 = funnel.counts
      assert(after1.neardup == 1L && after1.decontam == 1L)
      // batch 2 re-sends the SAME text under a new id: it passes
      // gopher/LM/dup-span (its batch has one copy) but must lose to
      // the cross-batch signature state at the near-dup stage
      source.addData(Seq((2L, base)))
      funnel.query.processAllAvailable()
      val after2 = funnel.counts
      assert(after2.dupspan == after1.dupspan + 1L,
        "single-copy batch must pass dup-span")
      assert(after2.neardup == after1.neardup,
        "cross-batch duplicate must die at the near-dup stage")
    } finally funnel.query.stop()
  }
}
