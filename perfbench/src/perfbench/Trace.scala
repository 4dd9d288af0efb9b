package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: a call into the program's public API plus the
  * benchmark's full materialization of its result. */
final class Op(val id: Int, val pass: Int, val kind: String,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var ok = false
  var gcMs = 0L
  /** Counts the benchmark computes from outside the program, such as
    * distance evaluations; averaged over the ops that record them. */
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap()
  /** Fingerprint of the benchmark-side materialization plan. */
  var plan: Option[String] = None
  var bareCount = false
  def ms: Double = (endNs - startNs) / 1e6
}

/** A traced interval: name, start, end, parent span and owning op. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long)

/** Records timed ops for every run and, with tracing on, spans, plan
  * fingerprints and Spark listener events. The workloads run the same
  * calls in both modes; tracing only adds bookkeeping around them. */
final class Recorder(val trace: Boolean, val runId: String,
    workDir: String) {
  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  val failures = ArrayBuffer[String]()
  var checks = 0
  var failedChecks = 0
  val checkNames: mutable.Set[String] = mutable.LinkedHashSet()
  var pass = 0
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var current: Option[Op] = None
  private val t0Ns = System.nanoTime()

  def op[T](kind: String)(body: => T): T = {
    val o = new Op(ops.length, pass, kind, System.nanoTime(),
      System.currentTimeMillis())
    ops += o
    current = Some(o)
    val gc0 = Recorder.gcMillis()
    try {
      val r = span("op." + kind)(body)
      o.ok = true
      r
    } catch {
      case e: Throwable =>
        failures += s"op $kind failed: $e"
        throw e
    } finally {
      o.endNs = System.nanoTime()
      o.endMs = System.currentTimeMillis()
      o.gcMs = Recorder.gcMillis() - gc0
      current = None
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      val opId = current.map(_.id).getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, opId, s, System.nanoTime())
      }
    }

  def count(name: String, v: Double): Unit =
    current.foreach(o => o.counters(name) = o.counters.getOrElse(name, 0.0) + v)

  /** Distance evaluations an op makes and the vector bytes they read. */
  def distances(evals: Double, dim: Int): Unit = {
    count("distance_evals", evals)
    count("vector_bytes", evals * dim * 4)
  }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += 1
    checkNames += name
    if (!ok) {
      failedChecks += 1
      failures += s"check $name failed: $detail"
    }
  }

  /** Full materializations of a result frame. Each records the plan it
    * ran when tracing. */
  def collect(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    notePlan(df)
    rows
  }

  def noop(df: DataFrame): Unit = {
    df.write.format("noop").mode("overwrite").save()
    notePlan(df)
  }

  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    notePlan(df)
    c
  }

  private def notePlan(df: DataFrame): Unit =
    if (trace) current.foreach { o =>
      val p = df.queryExecution.optimizedPlan
      o.plan = Some(Recorder.fingerprint(p, workDir))
      o.bareCount = Recorder.isBareCount(p)
    }

  def spanRecords: Seq[Map[String, Any]] = spans.sortBy(_.startNs).map { s =>
    Map("run" -> runId, "span" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6)
  }.toSeq

  /** Self time: the span's duration minus the time its children cover. */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => (c.endNs - c.startNs) / 1e6).sum
    }
    spans.map(s => s.id -> ((s.endNs - s.startNs) / 1e6 -
      childMs.getOrElse(s.id, 0.0))).toMap
  }
}

object Recorder {
  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** The pruned-count shape: an ungrouped count whose input
    * is only a projection of a relation, so no real work runs. */
  def isBareCount(p: LogicalPlan): Boolean = p match {
    case a: Aggregate if a.groupingExpressions.isEmpty &&
        a.aggregateExpressions.nonEmpty &&
        a.aggregateExpressions.forall(e => e.find {
          case ae: AggregateExpression => !ae.aggregateFunction.isInstanceOf[Count]
          case _ => false
        }.isEmpty) =>
      var c = a.child
      while (c.isInstanceOf[Project]) c = c.asInstanceOf[Project].child
      c.isInstanceOf[LeafNode]
    case _ => false
  }

  /** Optimized-plan fingerprint with expression ids, plan ids and the
    * run's scratch directory normalized, so equal plans hash equally
    * across runs. */
  def fingerprint(p: LogicalPlan, workDir: String): String = {
    val s = p.treeString
      .replace(workDir, "<work>")
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\$\\$\\d+", "")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Spark-level events: jobs, tasks and SQL execution starts. */
final class SparkEvents extends SparkListener {
  import SparkEvents._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val sqlStarts = new ConcurrentHashMap[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(Job(e.jobId, e.time)); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      tasks.add(Task(e.stageId, i.launchTime, i.duration, m.executorRunTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
      ()
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStarts.put(s.executionId, s.time); ()
    case _ =>
  }
}

object SparkEvents {
  final case class Job(id: Int, startMs: Long)
  final case class Task(stageId: Int, launchMs: Long, durationMs: Long,
      runMs: Long, cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, peakMem: Long)
}

/** Planning time and output rows of every finished query execution. */
final class QueryEvents extends QueryExecutionListener {
  import QueryEvents.Exec
  val execs = new ConcurrentLinkedQueue[Exec]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    execs.add(Exec(qe.id, System.currentTimeMillis(), planning,
      QueryEvents.rootRows(qe.executedPlan)))
    ()
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object QueryEvents {
  final case class Exec(id: Long, receivedMs: Long, planningMs: Double,
      outputRows: Long)

  /** Rows out of the topmost operator that counts them. */
  def rootRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rootRows(a.executedPlan)
    case q: QueryStageExec => rootRows(q.plan)
    case _ => p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(p.children.headOption.map(rootRows).getOrElse(0L))
  }
}

/** Micro-batch progress of streaming queries. */
final class StreamEvents extends StreamingQueryListener {
  import StreamEvents.Progress
  val progress = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Progress(get("triggerExecution"), get("addBatch")))
      ()
    }
  }
}

object StreamEvents {
  final case class Progress(triggerMs: Long, addBatchMs: Long)
}

/** The listeners of one traced run, registered on the session. */
final class Listeners(spark: SparkSession) {
  val sparkEvents = new SparkEvents
  val queryEvents = new QueryEvents
  val streamEvents = new StreamEvents
  spark.sparkContext.addSparkListener(sparkEvents)
  spark.listenerManager.register(queryEvents)
  spark.streams.addListener(streamEvents)

  /** Per-op Spark numbers, attributed by time: a single closed-loop
    * client runs one op at a time, so every job, task and query
    * execution that starts inside an op's window belongs to it. */
  def perOp(ops: Seq[Op]): Map[Int, Map[String, Double]] = {
    val jobs = sparkEvents.jobs.asScala.toSeq
    val tasks = sparkEvents.tasks.asScala.toSeq
    val execs = queryEvents.execs.asScala.toSeq.map { x =>
      val t = Option(sparkEvents.sqlStarts.get(x.id)).map(_.longValue)
        .getOrElse(x.receivedMs)
      (t, x)
    }
    def inside(o: Op, t: Long) = t >= o.startMs && t <= o.endMs
    ops.map { o =>
      val js = jobs.filter(j => inside(o, j.startMs))
      val ts = tasks.filter(t => inside(o, t.launchMs))
      val xs = execs.filter { case (t, _) => inside(o, t) }.map(_._2)
      val intervals = js.map { j =>
        val end = Option(sparkEvents.jobEnds.get(j.id)).map(_.longValue)
          .getOrElse(o.endMs)
        (j.startMs, math.min(end, o.endMs))
      }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      intervals.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) covered += e - from
        reach = math.max(reach, e)
      }
      val byStage = ts.groupBy(_.stageId)
      val skew = if (byStage.isEmpty) 0.0 else {
        val widest = byStage.values.maxBy(_.size).map(_.durationMs.toDouble).sorted
        val med = widest(widest.size / 2)
        if (widest.size < 2 || med <= 0) 1.0 else widest.last / med
      }
      o.id -> Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> byStage.size.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.planning_ms" -> xs.map(_.planningMs).sum,
        "spark.driver_gap_ms" -> math.max(0.0, o.ms - covered),
        "spark.executor_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "spark.executor_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "spark.task_skew" -> skew,
        "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "spark.peak_exec_mem_bytes" ->
          (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble),
        "spark.gc_ms" -> o.gcMs.toDouble,
        "spark.output_rows" -> xs.map(_.outputRows).sum.toDouble)
    }.toMap
  }
}
