package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool (guide §1.1 empirical profiling, headless stand-in for the
  * Spark UI): run registered queries repeatedly and print, per rep,
  * the wall time, the Spark jobs it launched with their durations, and
  * the driver gap (wall − Σ job time) — which tells whether a slow
  * query is executor-bound (optimize the plan) or planning/orchestration-
  * bound (fewer jobs/stages is the only lever). Mirrors Bench's session
  * config so the measured shape is the benched one.
  * Usage: runMain graft.JobProfile <sfDir> <reps> q1,q2,... */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, reps, names) = args
    val cpus = Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", WarehouseDir.path)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val t0 = starts.getOrDefault(je.jobId, je.time)
        done.add((je.jobId, je.time - t0)); ()
      }
    })
    // same codegen warmup as Bench
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 100)")
      .collect()
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      (1 to reps.toInt).foreach { r =>
        Thread.sleep(300) // let stragglers from the previous rep land
        done.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // listener bus drain
        val jobs = done.toArray(Array.empty[(Int, Long)]).sortBy(_._1)
        val jobSum = jobs.map(_._2).sum / 1e3
        println(f"[profile] $n rep=$r wall=$wall%.3f njobs=${jobs.length} " +
          f"jobsum=$jobSum%.3f drivergap=${wall - jobSum}%.3f " +
          jobs.map { case (id, ms) => s"j$id=${ms}ms" }.mkString(" "))
      }
    }
    spark.stop()
  }
}
