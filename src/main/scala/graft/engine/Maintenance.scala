package graft.engine

import org.apache.spark.sql.SparkSession

import graft.model.{EngineConfig, SnapshotMeta}
import graft.stream.DecideAggregator

/** The full maintenance loop closed end-to-end (SURVEY.md §3.1 + §4.1):
  * evaluate the decision over the snapshot log, compact triggered tables,
  * and append a REPLACE commit per completed compaction — which is exactly
  * what the next decision cycle's `optimize_cutoff` treats as the new
  * baseline. The reference's recursion guard (stripping reporter props so
  * an optimize job can't re-trigger itself,
  * AwsTableManagementMetricsEvaluator.java:93-99) holds here structurally:
  * compaction emits `replace` commits, and replace commits are cutoffs,
  * never triggers.
  *
  * Only the compactions touch Spark. The decision is the driver fold
  * `DecideAggregator.decideLog` over the driver-held log (the rule the
  * decision stream applies). The triggered tables go through
  * [[Executors.dispatch]], each to a [[LocalSparkExecutor]] that receives
  * the deciding config (`cfg.toProperties`, plus the synchronous flag and
  * the table's dirs), so it compacts with `cfg`'s strategy and sort order,
  * and its job runs inline on the cycle's thread.
  */
object Maintenance {

  /** Where a table's data lives (input) and where rewrites land. */
  final case class TableDirs(inputDir: String, outputDir: String)

  final case class CycleResult(
      triggered: Seq[Long],
      jobIds: Seq[String],
      log: Seq[SnapshotMeta])

  /** One decision+compaction cycle over an explicit snapshot log, on one
    * clock: it decides at `nowMs` and stamps its REPLACE commits with it.
    * Tables trigger, and compact one after another, in ascending
    * `table_id` order; a failed compaction raises at once. */
  def cycle(spark: SparkSession, log: Seq[SnapshotMeta],
      tables: Map[Long, TableDirs], cfg: EngineConfig,
      nowMs: Long): CycleResult = {
    val triggered = DecideAggregator.decideLog(log, cfg, nowMs).collect {
      case d if d.should_optimize && tables.contains(d.table_id) => d.table_id
    }
    val stateLog = new JobStateLog
    val jobIds = Executors.dispatch(triggered, cfg, t => Map(
      EngineConfig.SynchronousKey -> "true",
      "local.input-dir" -> tables(t).inputDir,
      "local.output-dir" -> tables(t).outputDir))(
      _ => new LocalSparkExecutor(spark, stateLog))
    val firstId = log.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val newCommits = triggered.zipWithIndex.map { case (t, i) =>
      SnapshotMeta(t, firstId + i, nowMs, "replace")
    }
    CycleResult(triggered, jobIds, log ++ newCommits)
  }
}
