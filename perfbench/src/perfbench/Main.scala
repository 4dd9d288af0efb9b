package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and writes its record.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file> [--tiny]
  *
  * The record holds the gated end-to-end metrics (`e2e`), the
  * workload's own named metrics (`detail`), and with tracing the
  * per-layer metrics (`layers`), per-op records and spans. */
object Main {
  val SetupReps = 3
  val Workloads = Seq("store_flow", "ann_batch", "curation_stream")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val out = opts("out")
    val tiny = args.contains("--tiny")
    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}"

    val hostStart = Host.probe()
    val genStart = System.nanoTime()
    val w: Workload = workload match {
      case "store_flow" => new StoreFlow(seed, tiny)
      case "ann_batch" => new AnnBatch(seed, tiny, work)
      case _ => new CurationStream(seed, tiny)
    }
    var genS = (System.nanoTime() - genStart) / 1e9

    // set-up: session start, warm-up and the program's fits, repeated;
    // every repetition but the last stops its session
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = session(work)
      w.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) spark.stop()
    }
    val heap = mutable.ArrayBuffer(Host.liveHeapMb())

    val g0 = System.nanoTime()
    w.generate(spark)
    genS += (System.nanoTime() - g0) / 1e9
    heap += Host.liveHeapMb()

    val listeners = if (trace) Some(new Listeners(spark)) else None
    val rec = new Recorder(trace, runId, work)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var aborted: Option[String] = None
    var lastPassNs = 0L
    // a further pass starts only while at least half a pass of time is
    // left, so a run overruns its time by at most half a pass
    while (aborted.isEmpty &&
        (rec.pass == 0 || deadline - System.nanoTime() >= lastPassNs / 2)) {
      val p0 = System.nanoTime()
      try w.pass(spark, rec)
      catch { case e: Exception => aborted = Some(e.toString) }
      lastPassNs = System.nanoTime() - p0
      heap += Host.liveHeapMb()
      rec.pass += 1
    }
    val measureS = (System.nanoTime() - deadline) / 1e9 + seconds

    val e2e = w.endToEnd(rec) ++ Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "live_heap_mb" -> heap.max)
    val units = Map("setup_s" -> "s", "pass_s" -> "s", "op_ms_p50" -> "ms",
      "live_heap_mb" -> "MB", "quality" -> "ratio")
    val bareCounts = rec.ops.filter(_.bareCount).map(_.kind).distinct
    if (trace)
      rec.check("no_timed_plan_is_a_bare_count", bareCounts.isEmpty,
        s"ops whose materialized plan is a bare relation count: $bareCounts")
    // an abort outside any op (in a check's own query) counts once more
    val failedOps = rec.ops.count(!_.ok)
    val extra = if (aborted.nonEmpty && failedOps == 0) 1 else 0
    val attempted = rec.ops.size + rec.checks + extra
    val failed = failedOps + rec.failedChecks + extra
    val detail = w.detail(rec) ++ Map(
      "setup_s" -> Metric(e2e("setup_s"), "s"),
      "live_heap_mb" -> Metric(e2e("live_heap_mb"), "MB"),
      "error_rate" -> Metric(failed.toDouble / math.max(1, attempted), "ratio"))

    val traced = listeners.map { l =>
      // let the listener bus deliver the last events before reading them
      Thread.sleep(1000)
      val perOp = l.perOp(rec.ops.toSeq)
      val layers = Layers.metrics(rec, perOp, l)
      val opRecords = rec.ops.map { o =>
        Map("run" -> runId, "op" -> o.id, "pass" -> o.pass, "kind" -> o.kind,
          "ms" -> o.ms, "ok" -> o.ok, "plan" -> o.plan, "bare_count" -> o.bareCount,
          "counters" -> o.counters) ++ perOp.getOrElse(o.id, Map.empty)
      }
      (layers, opRecords)
    }
    val hostEnd = Host.probe()
    spark.stop()

    val record = mutable.LinkedHashMap[String, Any](
      "run" -> runId, "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "measured_s" -> measureS, "trace" -> trace, "tiny" -> tiny,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "checks" -> rec.checks, "check_names" -> rec.checkNames, "ops" -> rec.ops.size, "passes" -> rec.pass,
      "failures" -> (rec.failures.take(20) ++ aborted.map("aborted: " + _)),
      "e2e" -> e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) },
      "detail" -> detail.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "setup_reps_s" -> setupS, "gen_s" -> genS, "input" -> w.inputStats,
      "host" -> Map("start" -> hostStart, "end" -> hostEnd))
    traced.foreach { case (layers, opRecords) =>
      record("layers") = mutable.LinkedHashMap(layers.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*)
      record("op_records") = opRecords
      record("spans") = rec.spanRecords
    }
    Files.write(Paths.get(out), Json(record).getBytes(StandardCharsets.UTF_8))
  }

  def session(work: String): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    .getOrCreate()
}

/** Host-noise probe and heap sampling, outside every timed region. */
object Host {
  /** Time of a fixed integer spin loop, plus the 1-minute load average. */
  def probe(): Map[String, Double] = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    val load = scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble).getOrElse(-1.0)
    Map("spin_ms" -> ms, "loadavg_1m" -> load, "spin_checksum" -> (x & 0xff).toDouble)
  }

  /** Heap in use after a forced collection, in MB. The pause between
    * the two collections lets Spark's context cleaner drop the blocks
    * of frames the first one found unreachable. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    Thread.sleep(300)
    System.gc()
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }
}
