package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's measurements, all taken at layer boundaries from outside
  * the program: spans around the harness's calls into graft's public
  * functions, Spark's own listeners (jobs, stages, tasks; planning phases of
  * every executed query; streaming trigger durations) and the code
  * generator's compile counters. Attached only when `--trace 1`.
  */
final class Tracer private (spark: SparkSession) extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val perOp = ArrayBuffer.empty[Map[String, Any]]
  private var startMs = 0L
  private var opMark: Map[String, Double] = Map.empty
  // the compile counters are JVM-wide; count from the tracer's attach
  private val compileNs0 = CodeGenerator.compileTime
  private val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private val rulesNs0 = RuleExecutor.getCurrentMetrics().time

  private def add(k: String, v: Double): Unit = synchronized { c(k) = c(k) + v }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("scheduler.jobs", 1)
    if (Tracer.openSpans.containsKey("queries.build")) add("queries.build_jobs", 1)
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => synchronized { jobSpans += ((s.longValue, e.time)) })
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("scheduler.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("scheduler.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.task_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("shuffle.spill_mb", m.diskBytesSpilled / 1e6)
      add("scan.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("scan.records", m.inputMetrics.recordsRead.toDouble)
      add("sinks.output_mb", m.outputMetrics.bytesWritten / 1e6)
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def d(k: String) = p.get(k).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
      add("catalyst.optimizer_s", d(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION))
      add("catalyst.planning_s", d(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      add("streaming.triggers", 1)
      add("streaming.offsets_s", ms("latestOffset") + ms("getBatch"))
      add("streaming.planning_s", ms("queryPlanning"))
      add("streaming.add_batch_s", ms("addBatch"))
    }
  }

  private def drain(): Unit = PerfbenchBridge.drain(spark.sparkContext)

  /** Union of job intervals inside [lo, hi], in seconds. */
  private def jobBusy(lo: Long, hi: Long): Double = synchronized {
    val iv = jobSpans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e } else curE = math.max(curE, e)
    }
    (busy + curE - curS) / 1e3
  }

  private def codegen(): Unit = synchronized {
    c("codegen.compile_s") = (CodeGenerator.compileTime - compileNs0) / 1e9
    c("codegen.classes") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble
    // DataFrames are analyzed when built, on a query execution that no
    // listener sees; so analysis is Catalyst's rule time outside the
    // optimizer phases of the executed queries
    c("catalyst.analysis_s") = math.max(0.0,
      (RuleExecutor.getCurrentMetrics().time - rulesNs0) / 1e9 - c("catalyst.optimizer_s"))
  }

  private def snapshot(): Map[String, Double] = { codegen(); synchronized(c.toMap) }

  def begin(): Unit = {
    drain()
    startMs = System.currentTimeMillis()
    opMark = snapshot()
  }

  def end(): Unit = {
    drain()
    val now = System.currentTimeMillis()
    val busy = jobBusy(startMs, now)
    add("scheduler.driver_gap_s", (now - startMs) / 1e3 - busy)
    add("job_wall_s", busy)
  }

  /** Per-operation breakdown: every counter's change over the operation. */
  def endOp(name: String, seconds: Double): Unit = {
    drain()
    val now = snapshot()
    val delta = (now.keySet ++ opMark.keySet).toSeq.sorted
      .map(k => k -> (now.getOrElse(k, 0.0) - opMark.getOrElse(k, 0.0)))
      .filter(_._2 != 0.0).toMap
    perOp += Map("op" -> name, "wall_s" -> seconds, "layers" -> delta)
    opMark = now
  }

  /** `extras` are the workload's own figures. */
  def report(extras: Map[String, Double]): Map[String, Any] = {
    drain()
    val all = snapshot()
    val busy = all.getOrElse("job_wall_s", 0.0)
    val perLayer = Tracer.PerLayer.map(k => k -> all.getOrElse(k, 0.0)).toMap ++ extras +
      ("executor.cores_busy" -> (if (busy > 0) all("executor.task_s") / busy else 0.0))
    Map("per_layer" -> perLayer, "ops" -> perOp.toSeq)
  }
}

object Tracer {
  /** Every per-layer metric, in BENCHMARK.json's order. */
  val PerLayer: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs",
    "pipeline.stage_s", "pipeline.persist_s",
    "catalyst.analysis_s", "catalyst.optimizer_s", "catalyst.planning_s",
    "codegen.compile_s", "codegen.classes",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_gap_s",
    "executor.task_s", "executor.cpu_s", "executor.gc_s", "executor.cores_busy",
    "shuffle.write_mb", "shuffle.records", "shuffle.spill_mb",
    "scan.input_mb", "scan.records",
    "sinks.output_mb", "sinks.files",
    "manifest.commits", "manifest.write_amp", "manifest.read_s",
    "streaming.triggers", "streaming.start_s", "streaming.offsets_s",
    "streaming.planning_s", "streaming.add_batch_s")

  /** Spans open right now, by layer (jobs started inside one are credited
    * to it). The harness is single-threaded, so at most one per layer. */
  private[perfbench] val openSpans = new ConcurrentHashMap[String, java.lang.Boolean]()

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.queryListener)
    spark.streams.addListener(t.streamListener)
    t
  }

  /** Times `body` as a span of `layer` (metric `<layer>_s`) when traced. */
  def span[T](t: Option[Tracer], layer: String)(body: => T): T = t match {
    case None => body
    case Some(tr) =>
      // drain on both sides, so the listener credits this span with
      // exactly the jobs posted while it was open
      tr.drain()
      openSpans.put(layer, true)
      val s = System.nanoTime()
      try body
      finally {
        tr.add(layer + "_s", (System.nanoTime() - s) / 1e9)
        tr.drain()
        openSpans.remove(layer)
      }
  }

  /** Empties Spark's cache of compiled generated classes, so the next query
    * generates and compiles its code as in a fresh JVM. The cache is private
    * to the code generator; this reaches it by reflection. */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}
