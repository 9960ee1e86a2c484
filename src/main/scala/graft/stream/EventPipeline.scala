package graft.stream

import java.util.concurrent.{ConcurrentLinkedQueue, ConcurrentSkipListMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.engine.{Executor, Executors}
import graft.model.{EngineConfig, SnapshotMeta}
import graft.ops.EventOps
import graft.stream.DecideAggregator.Decision

/** The event-driven maintenance pipeline (SURVEY.md §3.1), Spark-native:
  * the reference's push-based `MetricsReporter.report()` entry point
  * becomes a Structured Streaming source, and each micro-batch filters
  * commit events, updates the per-table decision, and submits maintenance
  * jobs for newly triggered tables — the thread boundary moves from
  * "inline in the table write commit" to the micro-batch thread, and the
  * remote-engine network boundary becomes the executor SPI.
  *
  * There is one decision path: a `flatMapGroupsWithState` fold keyed by
  * table. Its state — the table's `DecideAggregator.DecideBuf` plus one
  * dispatch mark — lives in Spark's checkpointed state store, so per-batch
  * work is O(batch rows), never O(accumulated history), and a restart on
  * the same checkpoint resumes both the decision and the dispatch mark.
  * It emits the one decision row, `DecideAggregator.Decision`, with a
  * dispatch flag; the driver keeps each table's latest row in a view keyed
  * by `table_id` (an Update-mode result table), updated after dispatch.
  * The reference instead rescans `currentAncestors` on every event
  * (AwsTableManagementMetricsEvaluator.java:74); that rescan survives only
  * as the test oracle (`Decide.shouldOptimize` over all events so far).
  * State per table is (last replace ts, pending commit ts list), bounded
  * by `commitThreshold` in steady state — compaction fires before the
  * pending list grows past O(threshold).
  *
  * Checkpoint I/O: each trigger makes its epoch durable before it
  * dispatches — a file source's metadata-log entry (`sources/0`, the
  * files the batch reads), an offsets WAL entry, one state-store delta per
  * state partition and a commit-log entry, each an atomic temp-file write
  * plus rename. On a local checkpoint, Spark's default `FileContext`
  * manager and Hadoop's local FS (without its native library) fork a
  * `readlink` per renamed path and a `chmod` per created file, dozens of
  * processes per micro-batch, which made the state commit the largest
  * phase of a trigger. [[runStatefulStreaming]] therefore starts its query
  * through [[LocalCheckpointFileManager.start]], which routes every one of
  * those logs, the source log included (its file source is rebound to a
  * session clone that carries the manager), to `java.nio` writes without a
  * process; a manager class the caller has set is kept for all of them.
  */
object EventPipeline {

  /** Open the events parquet as a file stream (the file-stream source needs
    * a directory, so glob-filter the events file inside the sf dir). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // The file stream needs an explicit schema; take it from the file
    // itself (one footer read) rather than assuming a physical ts encoding
    // — fixture regenerations have switched between TIMESTAMP(NANOS) and
    // timestamp[us].
    val fileSchema = graft.Tables.events(spark, dir).schema
    // events.parquet is a single FILE in driver fixtures but a DIRECTORY
    // of parts in Spark-written ones (ReseedFixture) — a leaf-name glob
    // on the parent only sees the former; stream the directory directly
    // in the latter case. Hadoop answers for any scheme, `file:` included.
    val events = new Path(s"$dir/events.parquet")
    if (events.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(events).isDirectory)
      spark.readStream.schema(fileSchema).parquet(events.toString)
    else
      spark.readStream.schema(fileSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
  }

  /** Result of one pipeline run, live while its query runs: the
    * last-value decision view and the submitted job ids. The view holds
    * each table's latest [[Decision]] keyed by `table_id`; the stream
    * thread replaces a table's entry in place, so a reader at any moment
    * sees every table seen so far. The job ids are appended in dispatch
    * order, and a reader at any moment sees every job submitted so far. */
  final class RunResult private[stream] (
      private[stream] val latest: ConcurrentSkipListMap[Long, Decision],
      jobs: ConcurrentLinkedQueue[String]) {

    /** The view as rows of `Decision`'s columns in `table_id` order. */
    def decisions: Seq[Row] =
      latest.values.asScala.iterator.map(Row.fromTuple).toSeq

    /** The submitted job ids in dispatch order. */
    def submittedJobs: Seq[String] = jobs.asScala.toSeq
  }

  /** Group state of one table: its decision buffer (`lastReplaceTs` and
    * the pending commit timestamps) plus the dispatch mark (a job was
    * submitted for the current trigger).
    *
    * The row holds no array: the pending timestamps are packed as 8-byte
    * big-endian longs in one binary field, and [[buf]] / [[TableState.of]]
    * convert to and from `DecideBuf` inside [[decideGroup]]. A `Seq` or
    * `Array` field's state (de)serializer goes through `MapObjects`, whose
    * lambda variable takes a fresh id each time Spark builds it, once per
    * micro-batch; the generated projection's source then differs from
    * batch to batch, misses the codegen cache and is compiled again on
    * every trigger (~20 ms on the decision stream's critical path). A
    * binary field generates the same code every batch. */
  final case class TableState(lastReplaceTs: Long, pending: Array[Byte],
      dispatched: Boolean) {
    def buf: DecideAggregator.DecideBuf = {
      val b = java.nio.ByteBuffer.wrap(pending)
      DecideAggregator.DecideBuf(lastReplaceTs,
        Vector.fill(pending.length / 8)(b.getLong()))
    }
  }

  object TableState {
    def of(buf: DecideAggregator.DecideBuf, dispatched: Boolean): TableState = {
      val b = java.nio.ByteBuffer.allocate(8 * buf.pending.size)
      buf.pending.foreach(b.putLong)
      TableState(buf.lastReplaceTs, b.array, dispatched)
    }
  }

  /** The `flatMapGroupsWithState` transition function: fold the
    * micro-batch's snapshot rows for one table into its `TableState` —
    * which lives in Spark's CHECKPOINTED STATE STORE, not in driver
    * memory — and emit the refreshed decision with its dispatch
    * flag, true only in the batch where `should_optimize` turned true
    * while the table was not yet dispatched (exactly the rows that get a
    * job). `reduceBuf` is order-insensitive at the fixpoint (a replace
    * prunes exactly the commits it supersedes regardless of arrival
    * order), so no per-group sort is needed. The dispatch mark follows
    * the decision: set while the table stays triggered, cleared by a
    * `false` decision (its compaction's replace commit landed), so a later
    * re-trigger dispatches again — matching the reference, which
    * re-evaluates on every commit event
    * (AwsTableManagementMetricsEvaluator.java:60-80). State per table is
    * O(commitThreshold) pending timestamps; with the state store the
    * table-cardinality ceiling is the cluster's disk, not the driver heap
    * — 10⁹ tables is just a bigger state store. */
  def decideGroup(cfg: EngineConfig)(tableId: Long,
      rows: Iterator[SnapshotMeta],
      state: GroupState[TableState]): Iterator[(Decision, Boolean)] = {
    val prev = state.getOption
      .getOrElse(TableState.of(DecideAggregator.zeroBuf, dispatched = false))
    val buf = rows.foldLeft(prev.buf)(DecideAggregator.reduceBuf)
    val d = DecideAggregator.finishBuf(tableId, buf, cfg,
      graft.ops.Decide.NowMs)
    state.update(TableState.of(buf, dispatched = d.should_optimize))
    Iterator.single((d, d.should_optimize && !prev.dispatched))
  }

  /** Streaming decision frame: events → snapshot-log rows → per-table
    * stateful fold, one (decision, dispatch flag) per touched table. Only
    * tables touched by the current micro-batch emit (Update semantics) —
    * an untouched table's decision cannot change, so consumers keep a
    * last-value view keyed by table_id. */
  def statefulDecisions(events: DataFrame,
      cfg: EngineConfig): Dataset[(Decision, Boolean)] = {
    val spark = events.sparkSession
    import spark.implicits._
    EventOps.snapshotLogFrom(events)
      .select(
        col("table_id").as("tableId"),
        col("snapshot_id").as("snapshotId"),
        col("ts_ms").as("tsMillis"),
        col("operation"))
      .as[SnapshotMeta]
      .groupByKey(_.tableId)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(decideGroup(cfg))
  }

  /** Run the pipeline over a streaming events frame: each micro-batch
    * folds into the per-table state ([[statefulDecisions]]) and
    * `foreachBatch` hands the flagged tables to [[Executors.dispatch]],
    * which submits one maintenance job per table under the config that
    * decided (the reference's hand-off of the deciding properties to
    * `executor.initialize`). Then it puts the batch's decisions into the
    * LAST-VALUE VIEW (`RunResult`), one entry per table, bounded by table
    * count and not load-bearing for correctness.
    *
    * Restart: pass the SAME `checkpointDir`. Spark replays only the
    * uncommitted batches from the replayable source against the last
    * committed state version (Structured Streaming's exactly-once recipe),
    * so the decisions continue where the dead run left off and a table
    * that is still triggered is not dispatched again — its dispatch mark
    * is in the checkpointed state, not in driver memory. Dispatch stays
    * at-least-once only across a crash INSIDE a batch: the replay re-runs
    * that batch from the previous state version, dispatches included. */
  def runStatefulStreaming(events: DataFrame, cfg: EngineConfig,
      executorFor: String => Executor,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : (org.apache.spark.sql.streaming.StreamingQuery, RunResult) = {
    val latest = new ConcurrentSkipListMap[Long, Decision]
    val jobs = new ConcurrentLinkedQueue[String]
    val q = LocalCheckpointFileManager.start(statefulDecisions(events, cfg),
        Some(checkpointDir))(_.writeStream
      .trigger(trigger)
      .outputMode("update")
      .foreachBatch { (batch: Dataset[(Decision, Boolean)], _: Long) =>
        val rows = batch.collect()
        // dispatch first: the report view below is off the latency path
        Executors.dispatch(rows.collect { case (d, true) => d.table_id }.toSeq,
          cfg)(executorFor).foreach(jobs.add)
        rows.foreach { case (d, _) => latest.put(d.table_id, d) }
      })
    (q, new RunResult(latest, jobs))
  }

  /** Run the pipeline over all currently-available fixture events on a
    * fresh temporary checkpoint, removed when the run ends. */
  def runStatefulOnce(spark: SparkSession, dir: String, cfg: EngineConfig,
      executorFor: String => Executor): RunResult = {
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stateful-ckpt").toString
    try {
      val (q, result) = runStatefulStreaming(readEventStream(spark, dir),
        cfg, executorFor, ckpt)
      q.awaitTermination()
      result
    } finally LoopCore.deleteRecursively(ckpt)
  }

  /** Streaming decision query for the driver contract: same output (and
    * oracle) as the batch should_optimize, produced through the stateful
    * streaming path (per-table state in the checkpointed state store). */
  def decisionsViaStream(spark: SparkSession, dir: String,
      cfg: EngineConfig): DataFrame = {
    val result = runStatefulOnce(spark, dir, cfg, _ => NoopExecutor)
    spark.createDataFrame(result.latest.values.asScala.toSeq)
  }

  private object NoopExecutor extends Executor {
    override def initialize(table: String, properties: Map[String, String]): Unit = ()
    override def execute(): String = "noop"
  }

  /** Session-window analysis (extension): per-user activity sessions with
    * a fixed inactivity gap. Event times are truncated to millis before
    * sessionization so the SQL gaps-and-islands oracle (which works in
    * epoch millis) sees identical instants. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time",
        timestamp_millis(EventOps.tsMillis(events.schema)))
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"))

  /** Stream-STREAM interval join (extension, SURVEY.md §2.3 streaming):
    * view→purchase attribution — every purchase a user makes within
    * `horizon` AFTER a view joins to that view, with the time lag. On
    * streams both sides carry watermarks and the time-range predicate,
    * which is exactly what lets Spark BOUND the join state: a buffered
    * view can be dropped once the purchase-side watermark passes
    * view_time + horizon (without the range condition, stream-stream
    * join state grows forever). On batch frames the same function is a
    * plain interval join — StreamSpec asserts the two paths agree, and
    * the batch form is the oracle-gated driver key (event_attribution).
    *
    * Scale shape: an equi-join on user_id (hash exchange both sides at
    * the state-store partitioning) with the range as a post-filter;
    * state per key is bounded by events-in-horizon. Event times are
    * truncated to millis so the SQL oracle sees identical instants. */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
      horizon: String = "30 minutes"): DataFrame = {
    val v = views
      .withColumn("view_time",
        timestamp_millis(EventOps.tsMillis(views.schema)))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("view_time"))
      .withWatermark("view_time", horizon)
    val p = purchases
      .withColumn("purchase_time",
        timestamp_millis(EventOps.tsMillis(purchases.schema)))
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("purchase_time"))
      .withWatermark("purchase_time", horizon)
    v.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_time") >= col("view_time") &&
          col("purchase_time") <=
            col("view_time") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (unix_millis(col("purchase_time")) - unix_millis(col("view_time")))
          .as("lag_ms"))
  }

  /** Batch form of [[attributionJoin]] over the events fixture (views ⋈
    * purchases) — the driver-contract key. */
  def attribution(events: DataFrame): DataFrame =
    attributionJoin(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "purchase"))

  /** Tumbling-window event metrics (extension, SURVEY.md §2.3 streaming):
    * per event-type counts and byte totals per window. Works on the batch
    * and streaming frame alike; with a stream, pair with a watermark on
    * `event_time` and an append/complete sink. */
  def windowedMetrics(events: DataFrame, windowLength: String): DataFrame =
    events
      .withColumn("event_time",
        timestamp_millis(EventOps.tsMillis(events.schema)))
      .groupBy(window(col("event_time"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("value_cents"))
}
