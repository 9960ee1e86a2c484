package graft.model

import scala.collection.immutable.VectorMap

/** Typed data model for the engine.
  *
  * Mirrors the reference's abstractions (SURVEY.md §1.1):
  *  - snapshot/commit log entries (Iceberg `Snapshot` analog,
  *    reference: AwsTableManagementMetricsEvaluator.java:74,108-140)
  *  - data-file metadata (the compaction unit, AwsManageProperties.java:48-50)
  *  - job runs (submit/poll lifecycle, AthenaOptimizeDataExecutor.java:122-155)
  *
  * Pure Scala — no Spark imports — so these stay usable as Dataset element
  * types (Encoders.product) and in plain unit tests.
  */

/** One entry of a table's snapshot/commit log (Snapshot analog). */
final case class SnapshotMeta(
    tableId: Long,
    snapshotId: Long,
    tsMillis: Long,
    operation: String)

/** Metadata for one data file of a table (the compaction unit). */
final case class FileMeta(
    table: String,
    path: String,
    sizeBytes: Long,
    partition: String)

/** A submitted maintenance job plus one observed state transition. */
final case class JobRun(jobId: String, state: String, tsMillis: Long)

object JobState {
  // Union of the four reference state machines (SURVEY.md §2.1 job_poll_state):
  // Athena AthenaOptimizeDataExecutor.java:122-155, EMR-EC2 :101-116,
  // EKS :165-182, Serverless :154-172.
  val NonTerminal: Set[String] =
    Set("SUBMITTED", "PENDING", "SCHEDULED", "RUNNING", "QUEUED")
  val Terminal: Set[String] = Set("SUCCEEDED", "FAILED", "CANCELLED")
  def isTerminal(s: String): Boolean = Terminal.contains(s)
}

/** One engine's poll-state machine: which states keep the poll loop
  * spinning, which raise, and what an unobserved job reads as.
  *
  * The four reference engines differ in BOTH respects:
  *  - non-terminal sets: Athena {QUEUED, RUNNING}
  *    (AthenaOptimizeDataExecutor.java:128-149, the `default:` arm sleeps),
  *    EMR-EC2 {PENDING, RUNNING} (EmrOnEc2OptimizeDataExecutor.java:104),
  *    EMR-on-EKS {SUBMITTED, PENDING, RUNNING}
  *    (EmrOnEksOptimizeDataExecutor.java:168-170), EMR Serverless
  *    {SUBMITTED, PENDING, SCHEDULED, RUNNING}
  *    (EmrServerlessOptimizeDataExecutor.java:157-160).
  *  - failure handling: only Athena raises on FAILED / CANCELLED
  *    (AthenaOptimizeDataExecutor.java:133-140); the three EMR loops exit
  *    silently on ANY state outside their non-terminal set — a failed EMR
  *    job does not error the poll (reference behavior, preserved here).
  */
final case class PollPolicy(
    engine: String,
    nonTerminal: Set[String],
    raiseOn: Set[String],
    initial: String)

object PollPolicy {
  val Athena: PollPolicy = PollPolicy("athena",
    Set("QUEUED", "RUNNING"), Set("FAILED", "CANCELLED"), "QUEUED")
  val EmrEc2: PollPolicy = PollPolicy("emr-on-ec2",
    Set("PENDING", "RUNNING"), Set.empty, "PENDING")
  val EmrEks: PollPolicy = PollPolicy("emr-on-eks",
    Set("SUBMITTED", "PENDING", "RUNNING"), Set.empty, "SUBMITTED")
  val EmrServerless: PollPolicy = PollPolicy("emr-serverless",
    Set("SUBMITTED", "PENDING", "SCHEDULED", "RUNNING"), Set.empty,
    "SUBMITTED")
  /** The local executor's machine: union non-terminal set, Athena-style
    * raise — the strictest composite, so local runs never mask failures. */
  val Local: PollPolicy = PollPolicy("local",
    JobState.NonTerminal, Set("FAILED", "CANCELLED"), "SUBMITTED")
}

/** One parsed sort-order term: column + direction + null placement.
  * Defaults follow Iceberg/Spark: ASC, and NULLS FIRST for ASC /
  * NULLS LAST for DESC. */
final case class SortTerm(column: String, ascending: Boolean,
    nullsFirst: Boolean)

object SortTerm {
  /** Parse an Iceberg-style sort-order string — comma-separated
    * `col [ASC|DESC] [NULLS FIRST|LAST]` terms, case-insensitive — the
    * grammar the reference passes through to `rewrite_data_files`'s
    * `sort_order` argument (EMRSparkUtil.java:118-124). Splitting on
    * commas alone would turn `"c1 DESC"` into a (nonexistent) column
    * named `c1 DESC`; unknown trailing tokens are rejected loudly. */
  def parseOrder(order: String): Seq[SortTerm] =
    order.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { term =>
      val toks = term.split("\\s+").toList
      def bad(): Nothing = throw new IllegalArgumentException(
        s"cannot parse sort-order term '$term': expected " +
          "`col [ASC|DESC] [NULLS FIRST|LAST]`")
      val name = toks.head
      var rest = toks.tail.map(_.toUpperCase)
      val asc = rest match {
        case ("ASC" | "DESC") :: tail =>
          val a = rest.head == "ASC"; rest = tail; a
        case _ => true
      }
      val nullsFirst = rest match {
        case "NULLS" :: ("FIRST" | "LAST") :: tail =>
          val nf = rest(1) == "FIRST"; rest = tail; nf
        case _ => asc
      }
      if (rest.nonEmpty) bad()
      SortTerm(name, asc, nullsFirst)
    }
}

/** What to do when a table triggers: the typed form of the SQL text the
  * reference generates (EMRSparkUtil.java:101-128). These `require`s are
  * the compaction rules; [[EngineConfig]] runs them when it is built, so a
  * config that cannot compact never reaches a decision. The sort order is
  * parsed once, when the spec is built, and `Compact.run` dispatches on
  * the kept terms. */
final case class CompactionSpec(
    table: String,
    strategy: String = EngineConfig.DefaultStrategy,
    options: Map[String, String] = EngineConfig.DefaultOptions,
    sortOrder: Option[String] = None) {
  require(strategy == "binpack" || strategy == "sort",
    s"unknown strategy: $strategy")
  require(strategy == "sort" || sortOrder.isEmpty,
    "sort_order requires strategy=sort")
  /** The parsed sort order; empty exactly when the strategy is binpack. */
  val sortTerms: Seq[SortTerm] =
    sortOrder.fold(Seq.empty[SortTerm])(SortTerm.parseOrder)
  require(strategy != "sort" || sortTerms.nonEmpty,
    "sort strategy requires sort_order columns")
}

/** Typed mirror of the reference's property namespace with its defaults
  * (AwsManageProperties.java:11-66) and mandatory-property checks
  * (SURVEY.md §2.1 required_prop_check). Construction is the one
  * validation point: the thresholds are checked here, and the compaction
  * fields (strategy, sort order, options) by building the
  * [[CompactionSpec]] template that [[spec]] hands to every executor. An
  * unknown strategy, a sort without an order, a binpack with one or a
  * malformed order throws `IllegalArgumentException` before any decision,
  * stream start or rewrite. */
final case class EngineConfig(
    commitThreshold: Int = EngineConfig.DefaultCommitThreshold,
    timeThresholdMs: Long = EngineConfig.DefaultTimeThresholdMs,
    synchronousEnabled: Boolean = false,
    sleepWaitMs: Long = EngineConfig.DefaultSleepWaitMs,
    strategy: String = EngineConfig.DefaultStrategy,
    options: Map[String, String] = EngineConfig.DefaultOptions,
    sortOrder: Option[String] = None,
    sparkConfigs: Map[String, String] = EngineConfig.DefaultSparkConfigs,
    athenaDataCatalog: String = EngineConfig.DefaultAthenaDataCatalog,
    athenaOutputBucket: Option[String] = None) {
  require(commitThreshold > 0, "commit-threshold must be positive")
  require(timeThresholdMs > 0, "time-threshold-ms must be positive")
  require(sleepWaitMs >= 0, "sleep-wait-ms must be non-negative")
  private val specTemplate = CompactionSpec("", strategy, options, sortOrder)

  /** The compaction this config runs on `table`. */
  def spec(table: String): CompactionSpec = specTemplate.copy(table = table)

  /** The Athena path's required-prop check: the reference refuses to
    * initialize without a result-output bucket
    * (AthenaOptimizeDataExecutor.java:64, message preserved). Only the
    * Athena executor calls this — the other engines don't need it. */
  def requireAthenaOutputBucket(): String =
    athenaOutputBucket.getOrElse(
      throw new IllegalArgumentException("Invalid output bucket: null"))

  /** The flat property map this config parses from, the inverse of
    * [[EngineConfig.fromProperties]]: what a decider hands to
    * `Executor.initialize` (AwsTableManagementMetricsEvaluator.java:75-82).
    * Insertion-ordered, so `options` and `sparkConfigs` keep their order
    * through the round trip and the rendered options literal does not
    * change. An empty `options` or `sparkConfigs` is written as no keys and
    * reads back as the default, as in the reference. */
  def toProperties: VectorMap[String, String] = {
    import EngineConfig._
    VectorMap(
      CommitThresholdKey -> commitThreshold.toString,
      TimeThresholdKey -> timeThresholdMs.toString,
      SynchronousKey -> synchronousEnabled.toString,
      SleepWaitKey -> sleepWaitMs.toString,
      StrategyKey -> strategy,
      AthenaDataCatalogKey -> athenaDataCatalog) ++
      sortOrder.map(SortOrderKey -> _) ++
      athenaOutputBucket.map(AthenaOutputBucketKey -> _) ++
      options.iterator.map { case (k, v) => (OptionsPrefix + k) -> v } ++
      sparkConfigs.iterator.map { case (k, v) => (SparkConfigsPrefix + k) -> v }
  }
}

object EngineConfig {
  // AwsManageProperties.java:11-13
  val DefaultCommitThreshold = 10
  // AwsManageProperties.java:15-18 (3 h)
  val DefaultTimeThresholdMs = 10800000L
  // AwsManageProperties.java:26-29
  val DefaultSleepWaitMs = 2000L
  // AwsManageProperties.java:52-54
  val DefaultStrategy = "binpack"
  // AwsManageProperties.java:48-50: the rewrite group cap, 10 GiB
  val DefaultGroupCapBytes: Long = 10737418240L
  val DefaultOptions: Map[String, String] = Map(
    "partial-progress.enabled" -> "true",
    "max-file-group-size-bytes" -> DefaultGroupCapBytes.toString)
  // AwsManageProperties.java:60-66
  val DefaultSparkConfigs: Map[String, String] = Map(
    "spark.driver.cores" -> "4",
    "spark.driver.memory" -> "32g",
    "spark.executor.cores" -> "4",
    "spark.executor.memory" -> "16g",
    "spark.executor.instances" -> "10",
    "spark.dynamicAllocation.enabled" -> "false")

  // AwsManageProperties.java:33-35. NOTE the reference quirk (SURVEY §3.3):
  // this *data catalog* value is passed as the Athena QueryExecutionContext
  // *database* (AthenaOptimizeDataExecutor.java:89-90). The config surface
  // is modeled faithfully; the rendered parameter block documents the field
  // it actually lands in.
  val DefaultAthenaDataCatalog = "AwsDataCatalog"

  /** Property keys, mirroring AwsManageProperties.java. */
  val CommitThresholdKey = "optimize-data.commit-threshold"
  val TimeThresholdKey = "optimize-data.time-threshold-ms"
  val SynchronousKey = "optimize-data.synchronous-enabled"
  val SleepWaitKey = "optimize-data.sleep-wait-ms"
  val ImplKey = "optimize-data.impl"
  // AwsManageProperties.java:31-35
  val AthenaOutputBucketKey = "optimize-data.athena.output-bucket"
  val AthenaDataCatalogKey = "optimize-data.athena.data-catalog"
  // AwsManageProperties.java:37-43 — the EMR submission surface
  val EmrClusterIdKey = "optimize-data.emr.cluster-id"
  val IamExecutionRoleArnKey = "optimize-data.iam.execution-role-arn"
  val EmrReleaseLabelKey = "optimize-data.emr.release-label"
  val EmrUploadBucketKey = "optimize-data.emr.upload-bucket"
  val StrategyKey = "optimize-data.strategy"
  val SortOrderKey = "optimize-data.sort-order"
  val OptionsPrefix = "optimize-data.options."
  val SparkConfigsPrefix = "optimize-data.spark.configs."
  // Reporter keys stripped before building the inner catalog
  // (AwsTableManagementMetricsEvaluator.java:93-99).
  val ReporterImplKey = "metrics-reporter-impl"
  val ReporterPrefix = "metrics-reporter."

  /** Parse a flat properties map (the reference's config surface) into a
    * typed config, applying defaults for absent keys. */
  def fromProperties(props: Map[String, String]): EngineConfig = {
    def prefixed(prefix: String): Map[String, String] =
      VectorMap.from(props.iterator.collect {
        case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
      })
    val opts = prefixed(OptionsPrefix)
    val confs = prefixed(SparkConfigsPrefix)
    EngineConfig(
      commitThreshold =
        props.get(CommitThresholdKey).map(_.toInt).getOrElse(DefaultCommitThreshold),
      timeThresholdMs =
        props.get(TimeThresholdKey).map(_.toLong).getOrElse(DefaultTimeThresholdMs),
      // lenient like the reference's Boolean.parseBoolean: non-"true" = false
      synchronousEnabled =
        props.get(SynchronousKey).exists(java.lang.Boolean.parseBoolean),
      sleepWaitMs =
        props.get(SleepWaitKey).map(_.toLong).getOrElse(DefaultSleepWaitMs),
      strategy = props.getOrElse(StrategyKey, DefaultStrategy),
      options = if (opts.isEmpty) DefaultOptions else opts,
      sortOrder = props.get(SortOrderKey),
      sparkConfigs = if (confs.isEmpty) DefaultSparkConfigs else confs,
      athenaDataCatalog =
        props.getOrElse(AthenaDataCatalogKey, DefaultAthenaDataCatalog),
      athenaOutputBucket = props.get(AthenaOutputBucketKey))
  }
}

/** Fixture constants shared by the Spark queries and the DuckDB oracle SQL
  * (FIXTURES.md §3 determinism contract). */
object Fixture {
  /** event_type values that count as table-write commits (CommitReport
    * analog); 'error' models non-commit MetricsReports that the filter at
    * AwsTableManagementMetricsEvaluator.java:68 drops. */
  val WriteOps: Seq[String] = Seq("click", "purchase", "signup", "view")
  /** event_type standing in for the REPLACE (compaction) operation —
    * the optimize_cutoff marker (FIXTURES.md §3). */
  val ReplaceOp = "purchase"
  /** Catalog name prefix of a fixture table: table `id` is `db.tbl_<id>`. */
  val TablePrefix = "db.tbl_"
  def tableName(tableId: Long): String = TablePrefix + tableId
}
