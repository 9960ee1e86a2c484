package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace. `layer` is "spark" for a Spark job,
  * "planning" for a query's analysis-to-physical-planning phases, else the
  * graft module whose entry point the harness called. `module` is the graft
  * module a job's call site names ("" when it names none). `metrics` holds a
  * job's task totals or a planning span's phase time. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double, module: String = "",
    metrics: Map[String, Long] = Map.empty)

/** The traced run's recorder: harness spans around calls into the program,
  * every Spark job as a span attributed by call site and carrying its task
  * totals, and every query's planning phases. Everything stays in memory
  * and reaches run.py once, in result.json. Untraced operations run with
  * it detached, so they pay nothing for it. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Probe._

  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var codegenNs = 0L
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private final class Job(val startMs: Double, val module: String) {
    val m = new ConcurrentHashMap[String, Long]()
    def add(k: String, v: Long): Unit = m.merge(k, v, (a: Long, b: Long) => a + b)
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val sqlModule = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val markerDone = new AtomicBoolean(false)

  /** Time `body` as a span of `layer`, nested under the calling thread's
    * open span; the codegen compile time it causes is summed too. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val cg0 = CodeGenerator.compileTime
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      if (parent == 0L) codegenNs += CodeGenerator.compileTime - cg0
      stack.set(stack.get.tail)
      spans.add(Span(id, parent, layer, name, t0, t1))
    }
  }

  /** Record an interval the harness observed rather than wrapped. */
  def record(layer: String, name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(ids.incrementAndGet(), 0L, layer, name, startMs, endMs))

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every event posted so far has reached the listener (a
    * marker job's end is delivered after all earlier events), then
    * detach. */
  def detach(): Unit = {
    val sc = spark.sparkContext
    markerDone.set(false)
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30000000000L
    while (!markerDone.get() && System.nanoTime() < deadline) Thread.sleep(5)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  /** A SQL execution's call site is taken on the thread that started it;
    * its jobs may be submitted from elsewhere (adaptive execution), so a
    * job is attributed through its execution when it has one. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlModule.put(s.executionId, moduleOf(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = (k: String) =>
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val marker = prop("spark.job.description").contains(Marker)
    val module = prop("spark.sql.execution.id")
      .flatMap(id => Option(sqlModule.get(id.toLong)))
      .getOrElse(moduleOf(e.stageInfos.headOption.map(_.details).getOrElse("")))
    val job = new Job(e.time.toDouble, if (marker) Marker else module)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(stageJob.put(_, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { job =>
      if (job.module == Marker) markerDone.set(true)
      else spans.add(Span(ids.incrementAndGet(), 0L, "spark", s"job ${e.jobId}",
        job.startMs, e.time.toDouble, job.module,
        job.m.asScala.toMap + ("jobs" -> 1L)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).filter(_ => e.taskMetrics != null)
      .foreach { job =>
        val m = e.taskMetrics
        job.add("tasks", 1)
        job.add("task_run_ms", m.executorRunTime)
        job.add("task_cpu_ns", m.executorCpuTime)
        job.add("gc_ms", m.jvmGCTime)
        job.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        job.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        job.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        job.add("result_bytes", m.resultSize)
      }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) spans.add(Span(ids.incrementAndGet(), 0L, "planning",
      funcName, phases.map(_.startTimeMs).min.toDouble,
      phases.map(_.endTimeMs).max.toDouble,
      metrics = Map("planning_ms" -> phases.map(_.durationMs).sum)))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def spanRows: Seq[Seq[Any]] = spans.asScala.toSeq.sortBy(_.startMs).map(s =>
    Seq(s.id, s.parent, s.layer, s.name, s.startMs, s.endMs, s.module,
      s.metrics))
}

object Probe {
  private val Marker = "perfbench-drain-marker"

  private val Subpackages =
    Set("stream", "ops", "engine", "exts", "functions", "queries", "sources")

  /** The graft module named by a job's call site: its innermost `graft.`
    * frame. `Maintenance.cycle` issues one action itself, the collect of
    * the `Decide.shouldOptimize` plan, so its frames count as graft.ops;
    * its compactions run on executor threads whose innermost frame is
    * `graft.engine.Compact`. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => ""
      case Some(f) if f.startsWith("graft.engine.Maintenance") => "graft.ops"
      case Some(f) =>
        val sub = f.split('.')(1)
        if (Subpackages.contains(sub)) s"graft.$sub" else "graft"
    }

  /** `body` inside a span when tracing, bare otherwise. */
  def maybe[T](p: Option[Probe], layer: String, name: String)(body: => T): T =
    p match {
      case Some(probe) => probe.span(layer, name)(body)
      case None => body
    }
}
