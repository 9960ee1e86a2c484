package graft.engine

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.model.{EngineConfig, Fixture, JobRun, PollPolicy}
import graft.ops.Codegen

/** Executor SPI — the engine-binding abstraction (Executor.java:9-23) with
  * local implementations instead of AWS service calls. The decider
  * initializes an executor with the properties of the config that decided
  * (`EngineConfig.toProperties`, as the reference's evaluator passes its
  * catalog properties, AwsTableManagementMetricsEvaluator.java:75-82;
  * [[Executors.dispatch]] is that hand-off). The generated SQL carries the
  * config's strategy, sort order and options; the local rewrite honours
  * its strategy and sort order only. States accumulate in a
  * [[JobStateLog]], and the synchronous gate
  * (AwsManageProperties.java:20-22) decides whether `execute` returns
  * before the job is terminal (SURVEY.md §2.1 job_poll_state,
  * sync_async_gate). A remote engine can only be polled; the local
  * executor runs a synchronous job on the caller's thread instead.
  */
trait Executor {
  def initialize(table: String, properties: Map[String, String]): Unit
  /** Submit the maintenance job; returns the job id. */
  def execute(): String
}

/** Append-only job-state log: the local analog of the four remote state
  * APIs the reference polls (GetQueryExecution / DescribeStep / ...).
  * Besides the full history it keeps each job's latest run, so a poll is
  * one map lookup however long the log grows. */
final class JobStateLog {
  private val log = new ConcurrentLinkedQueue[JobRun]()
  private val latest = new ConcurrentHashMap[String, JobRun]()
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** The latest `tsMillis` wins; on a tie, the run appended last. */
  def append(run: JobRun): Unit = {
    log.add(run)
    latest.merge(run.jobId, run,
      (old, cur) => if (cur.tsMillis >= old.tsMillis) cur else old)
  }
  def all: Seq[JobRun] = log.iterator().asScala.toSeq
  /** Unique job sequence number (atomic — executors may share a log). */
  def nextJobSeq(): Long = seq.getAndIncrement()
  /** Latest observed state for a job, if any. */
  def currentState(jobId: String): Option[String] =
    Option(latest.get(jobId)).map(_.state)
}

object Executors {
  /** How long the poll loop waits for a job before giving up. */
  val DefaultMaxWaitMs: Long = 600000L

  /** job_poll_state: block until the job leaves the engine's non-terminal
    * set, checking every sleepWaitMs — the loop shape of
    * AthenaOptimizeDataExecutor.java:122-155 and its three EMR siblings.
    * The per-engine machine (which states spin, which raise) comes from
    * the [[PollPolicy]]; the default is the local composite, which keeps
    * the union non-terminal set and the Athena-style raise on
    * FAILED/CANCELLED. A caller of an asynchronous [[LocalSparkExecutor]]
    * polls its job through here. */
  def waitForCompletion(log: JobStateLog, jobId: String,
      sleepWaitMs: Long, maxWaitMs: Long = DefaultMaxWaitMs,
      policy: PollPolicy = PollPolicy.Local): String = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    def cur(): String = log.currentState(jobId).getOrElse(policy.initial)
    var state = cur()
    while (policy.nonTerminal.contains(state)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"job $jobId timed out in $state")
      Thread.sleep(sleepWaitMs)
      state = cur()
    }
    if (policy.raiseOn.contains(state))
      throw new IllegalStateException(s"job $jobId terminated: $state")
    state
  }

  /** The one hand-off from decision to job: one job per table in
    * `tableIds`, in ascending `table_id` order. Each table's executor
    * (`executorFor` its `Fixture.tableName`) is initialized with the
    * deciding config's properties plus `extra(t)`, then executes; a job
    * that raises stops the dispatch. Returns the job ids in dispatch
    * order. */
  def dispatch(tableIds: Seq[Long], cfg: EngineConfig,
      extra: Long => Map[String, String] = _ => Map.empty)(
      executorFor: String => Executor): Seq[String] = {
    val props = cfg.toProperties
    tableIds.sorted.map { t =>
      val table = Fixture.tableName(t)
      val ex = executorFor(table)
      ex.initialize(table, props ++ extra(t))
      ex.execute()
    }
  }

  /** executor_dynload (AwsTableManagementMetricsEvaluator.java:152-176):
    * resolve an executor implementation by configured name. Known names map
    * to strategy objects; unknown names fall back to reflective no-arg
    * construction, preserving the reference's open extension point. */
  def load(name: String, spark: SparkSession, log: JobStateLog): Executor =
    name match {
      case "local" => new LocalSparkExecutor(spark, log)
      case "dry-run" => new DryRunExecutor(log)
      case "athena-dry-run" => new AthenaDryRunExecutor(log)
      case className =>
        try Class.forName(className).getDeclaredConstructor()
          .newInstance().asInstanceOf[Executor]
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"cannot initialize executor $className", e)
        }
    }
}

/** Runs the compaction as an in-process Spark action, the local analog of
  * submitting to a remote engine. The compaction is `cfg.spec(table)` of
  * the config parsed from the properties the decider passed
  * (`EngineConfig.toProperties`), so a config that cannot compact was
  * already refused when it was built. The `input`/`output` dirs ride along
  * as `local.input-dir` / `local.output-dir`; `initialize` refuses a
  * missing one, before any job is submitted. A synchronous job runs inline
  * on the caller's thread: `execute` returns once it SUCCEEDED, or raises
  * once it is logged FAILED. An asynchronous one runs on a Future and the
  * caller polls the log (`Executors.waitForCompletion`). */
final class LocalSparkExecutor(spark: SparkSession, log: JobStateLog)
    extends Executor {
  private var table: String = _
  private var cfg: EngineConfig = EngineConfig()
  private var input: String = _
  private var output: String = _

  override def initialize(table: String, properties: Map[String, String]): Unit = {
    def dir(key: String): String = properties.getOrElse(key,
      throw new IllegalArgumentException(s"$key is required"))
    this.table = table
    this.cfg = EngineConfig.fromProperties(properties)
    this.input = dir("local.input-dir")
    this.output = dir("local.output-dir")
  }

  override def execute(): String = {
    val jobId = s"local-$table-${log.nextJobSeq()}"
    val spec = cfg.spec(table)
    log.append(JobRun(jobId, "SUBMITTED", System.currentTimeMillis()))
    def run(): Unit =
      try {
        log.append(JobRun(jobId, "RUNNING", System.currentTimeMillis()))
        Compact.run(spark, spec, input, output)
        log.append(JobRun(jobId, "SUCCEEDED", System.currentTimeMillis()))
      } catch { case NonFatal(e) =>
        log.append(JobRun(jobId, "FAILED", System.currentTimeMillis()))
        throw e
      }
    if (cfg.synchronousEnabled)
      try run() catch { case NonFatal(e) =>
        throw new IllegalStateException(s"job $jobId terminated: FAILED", e)
      }
    else Future(run())(ExecutionContext.global)
    jobId
  }
}

/** Athena-path analog of [[DryRunExecutor]]: emits the full
  * `StartQueryExecution`-shaped parameter block instead of calling AWS.
  * Faithful to AthenaOptimizeDataExecutor.java in the two places the
  * engines differ:
  *  - initialize REQUIRES the result-output bucket (:64) — missing prop
  *    rejects at initialize time, before any job is submitted;
  *  - the data-catalog property (default `AwsDataCatalog`,
  *    AwsManageProperties.java:33-35) rides into the execution context
  *    (:89-90). */
final class AthenaDryRunExecutor(log: JobStateLog) extends Executor {
  private var table: String = _
  private var cfg: EngineConfig = EngineConfig()
  var generatedParams: Option[String] = None

  override def initialize(table: String, properties: Map[String, String]): Unit = {
    this.table = table
    this.cfg = EngineConfig.fromProperties(properties)
    cfg.requireAthenaOutputBucket()
  }

  override def execute(): String = {
    val jobId = s"athena-$table-${log.nextJobSeq()}"
    generatedParams = Some(Codegen.athenaStartQueryParams(table, cfg))
    val now = System.currentTimeMillis()
    log.append(JobRun(jobId, "QUEUED", now))
    log.append(JobRun(jobId, "SUCCEEDED", now))
    jobId
  }
}

/** Emits the generated SQL instead of running anything — the codegen path
  * is itself reference behavior worth preserving (SURVEY.md §3.2). */
final class DryRunExecutor(log: JobStateLog) extends Executor {
  private var table: String = _
  private var cfg: EngineConfig = EngineConfig()
  var generatedSql: Option[String] = None

  override def initialize(table: String, properties: Map[String, String]): Unit = {
    this.table = table
    this.cfg = EngineConfig.fromProperties(properties)
  }

  override def execute(): String = {
    val jobId = s"dry-$table-${log.nextJobSeq()}"
    generatedSql = Some(Codegen.rewriteDataFilesSql(cfg.spec(table)))
    val now = System.currentTimeMillis()
    log.append(JobRun(jobId, "SUBMITTED", now))
    log.append(JobRun(jobId, "SUCCEEDED", now))
    jobId
  }
}
