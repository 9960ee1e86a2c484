package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.model.Fixture

/** Commit-event ingestion and snapshot-log derivation.
  *
  * The reference receives push-style `CommitReport` events and filters out
  * every other report type (AwsTableManagementMetricsEvaluator.java:64-85);
  * the event stream analog here is `events.parquet` (FIXTURES.md §1,§3):
  * `user_id` = table id, `event_id` = snapshot id, `event_type` = operation,
  * with 'purchase' mapped to the REPLACE (compaction) operation and 'error'
  * modeling non-commit reports.
  */
object EventOps {

  /** Epoch-millis expression for a `ts` column, branched on the dtype the
    * parquet reader actually produced — the fixture's physical encoding has
    * changed across regenerations (TIMESTAMP(NANOS) read as nanos Long,
    * later `timestamp[us]` read as TIMESTAMP_NTZ), and the engine must not
    * assume one encoding (the schema-layer robustness an Iceberg catalog
    * gives the reference for free, AwsTableManagementMetricsEvaluator.java:72).
    * This is the one decoder of `ts`; every read of it goes through here.
    *
    * Graft sessions carry the setting that reads TIMESTAMP(NANOS) as a
    * Long in `GraftSession.conf`. A session built elsewhere must set it
    * itself to read such a file, because Spark's default is off
    * (perfbench's inputs are `timestamp[us]`, which need no setting).
    * All entry points pin `spark.sql.session.timeZone=UTC`, so NTZ-as-UTC
    * matches DuckDB's `epoch_ms` on naive timestamps; the nanos
    * `div 1000000` truncation matches its ns→ms floor for post-epoch
    * instants.
    */
  def tsMillis(schema: StructType): Column = schema("ts").dataType match {
    case LongType         => expr("ts div 1000000")
    case TimestampType    => unix_millis(col("ts"))
    case TimestampNTZType => unix_millis(col("ts").cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported dtype $other (expected long nanos or timestamp)")
  }

  /** Raw events with `ts` normalized to epoch-millis (`ts_ms`), whichever
    * physical timestamp encoding the fixture carries. Reads under the
    * caller's conf and writes none: a TIMESTAMP(NANOS) file needs the
    * nanos setting that graft sessions carry (see [[tsMillis]]). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.events(spark, dir)
    raw.withColumn("ts_ms", tsMillis(raw.schema))
  }

  /** commit_event_filter (SURVEY.md §2.1): keep only table-write commits,
    * dropping non-commit report types — the `report instanceof CommitReport`
    * dispatch at AwsTableManagementMetricsEvaluator.java:68 as a
    * Dataset.filter. A filter on a typed column is pushed into the parquet
    * scan by Catalyst, so at 100 TB non-commit events are skipped via
    * row-group statistics rather than read and discarded. */
  def commitEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).filter(col("event_type").isin(Fixture.WriteOps: _*))

  /** Snapshot-log derivation from any events frame with (event_id, ts
    * [nanos long or timestamp], user_id, event_type) — the single source of
    * the FIXTURES.md §3 rule, shared by the batch and streaming paths. */
  def snapshotLogFrom(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin(Fixture.WriteOps: _*))
      .select(
        col("user_id").as("table_id"),
        col("event_id").as("snapshot_id"),
        tsMillis(events.schema).as("ts_ms"),
        when(col("event_type") === Fixture.ReplaceOp, lit("replace"))
          .otherwise(lit("append")).as("operation"))

  /** The per-table snapshot/commit log (Iceberg snapshot-log analog,
    * SURVEY.md §1.1): one row per commit with the operation mapping from
    * FIXTURES.md §3 ('purchase' ⇒ replace, other writes ⇒ append). */
  def snapshotLog(spark: SparkSession, dir: String): DataFrame =
    snapshotLogFrom(events(spark, dir))

  /** snapshot_ancestor_scan (SURVEY.md §2.1): the current snapshot's
    * ancestor chain newest→oldest (`SnapshotUtil.currentAncestors`,
    * AwsTableManagementMetricsEvaluator.java:74). The log is linear per
    * table, so ancestry = ordering by commit time; `rn` is the ancestor
    * position (1 = current snapshot). Partitioned by table: on a cluster
    * each table's log sorts locally after one hash shuffle. */
  def ancestorScan(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("table_id"))
      .orderBy(col("ts_ms").desc, col("snapshot_id").desc)
    snapshotLog(spark, dir).withColumn("rn", row_number().over(w))
  }

  /** Visible snapshot set of each table as of `tMs`: everything at or
    * after the table's newest REPLACE commit that is itself ≤ tMs (the
    * FIXTURES.md §3 linear-log semantics — a replace supersedes all
    * earlier state). */
  private def stateAt(log: DataFrame, tMs: Long): DataFrame = {
    val w = Window.partitionBy(col("table_id"))
    log.filter(col("ts_ms") <= tMs)
      .withColumn("lr",
        max(when(col("operation") === "replace", col("ts_ms"))).over(w))
      .filter(col("lr").isNull || col("ts_ms") >= col("lr"))
      .select(col("table_id"), col("snapshot_id"))
  }

  /** Snapshot diff — what changed in each table between two points in
    * time: commits newly visible at t2 (`n_added`), commits visible at t1
    * but superseded by an intervening replace (`n_removed`), and the
    * carried-over intersection (`n_kept`). The "what did maintenance /
    * ingest do to this table since the last audit" report, and the
    * time-travel primitive behind incremental consumers (process exactly
    * the added set).
    *
    * Scale shape: two window passes over the metadata-scale log (one
    * exchange by table each) and a full-outer join co-partitioned on
    * (table_id, snapshot_id) — a shuffle-by-key join IS the design here
    * (full outer cannot broadcast), and both sides are ~1 row per commit,
    * never data-plane rows. */
  def snapshotDiff(log: DataFrame, t1Ms: Long, t2Ms: Long): DataFrame = {
    val s1 = stateAt(log, t1Ms).withColumn("in1", lit(1L))
    val s2 = stateAt(log, t2Ms).withColumn("in2", lit(1L))
    s1.join(s2, Seq("table_id", "snapshot_id"), "full_outer")
      .groupBy(col("table_id"))
      .agg(
        sum(when(col("in1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("in2").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("in1").isNotNull && col("in2").isNotNull, 1L)
          .otherwise(0L)).as("n_kept"))
  }

  /** event_json_encode (SURVEY.md §2.1): serialize the commit event to JSON
    * (`CommitReportParser.toJson`, AwsTableManagementMetricsEvaluator.java:70)
    * and the inverse — parse the event's `props` JSON payload. */
  def jsonEncode(spark: SparkSession, dir: String): DataFrame = {
    val propsSchema = StructType(Seq(StructField("k", IntegerType)))
    commitEvents(spark, dir).select(
      col("event_id"),
      to_json(struct(col("event_id"), col("event_type"))).as("ev_json"),
      from_json(col("props"), propsSchema).getField("k").as("prop_k"))
  }

  /** table_ident_parse (SURVEY.md §2.1): drop the first (catalog) level of a
    * dotted table name — `cat.db.t` → `db.t` (AwsManageUtil.java:19-24).
    * Fixture names are synthesized from `nation`. */
  def identParse(spark: SparkSession, dir: String): DataFrame = {
    val full = concat(lit("glue."), lower(col("n_name")), lit(".t"))
    Tables.load(spark, dir, "nation").select(
      col("n_nationkey"),
      full.as("full_name"),
      array_join(slice(split(full, "\\."), 2, 100), ".").as("table_ident"))
  }

  /** Pure-Scala ident parse used on the engine (non-query) path. */
  def parseIdent(name: String): String =
    name.split('.').drop(1).mkString(".")
}
