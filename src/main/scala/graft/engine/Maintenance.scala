package graft.engine

import org.apache.spark.sql.SparkSession

import graft.model.{EngineConfig, Fixture, SnapshotMeta}
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
  * decision stream applies). Each triggered table's executor receives the
  * deciding config (`cfg.toProperties`, plus the synchronous flag and the
  * table's dirs), so it compacts with `cfg`'s strategy, sort order and
  * options, and its job runs inline on the cycle's thread.
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
    val props = cfg.toProperties
    var nextSnapshotId = log.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (jobIds, newCommits) = triggered.map { tableId =>
      val dirs = tables(tableId)
      val ex = new LocalSparkExecutor(spark, stateLog)
      ex.initialize(Fixture.tableName(tableId), props ++ Seq(
        EngineConfig.SynchronousKey -> "true",
        "local.input-dir" -> dirs.inputDir,
        "local.output-dir" -> dirs.outputDir))
      val jobId = ex.execute()
      val commit = SnapshotMeta(tableId, nextSnapshotId, nowMs, "replace")
      nextSnapshotId += 1
      (jobId, commit)
    }.unzip
    CycleResult(triggered, jobIds, log ++ newCommits)
  }
}
