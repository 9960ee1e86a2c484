package graft.queries

import graft.QueryPack
import graft.model.EngineConfig
import graft.ops.{Codegen, EventOps, FilePlan, Props}

/** Driver-contract queries for property-map ops, maintenance-command
  * codegen, and file-group planning (SURVEY.md §2.1 rows 11-16, §2.2). */
object MaintenanceQueries {

  private val writeOpsSql = "('click','purchase','signup','view')"

  /** KV properties fixture CTE — mirrors Props.propsRelation. */
  private val propsCte =
    """props AS (
      |  SELECT event_id,
      |    CASE
      |      WHEN event_id % 10 = 0 THEN 'metrics-reporter-impl'
      |      WHEN event_id % 10 = 1 THEN 'metrics-reporter.queue-size'
      |      WHEN event_id % 10 = 2 THEN 'optimize-data.commit-threshold'
      |      WHEN event_id % 10 = 3 THEN 'optimize-data.spark.configs.spark.executor.memory'
      |      WHEN event_id % 10 = 4 THEN 'optimize-data.spark.configs.spark.executor.cores'
      |      WHEN event_id % 10 = 5 THEN 'optimize-data.options.partial-progress.enabled'
      |      ELSE 'other.prop.' || (event_id % 10)
      |    END AS key,
      |    event_type AS value
      |  FROM events)""".stripMargin

  /** Snapshot-log CTE (same derivation as DecisionQueries). */
  private val logCte =
    s"""log AS (
       |  SELECT user_id AS table_id, event_id AS snapshot_id,
       |         epoch_ms(ts) AS ts_ms
       |  FROM events WHERE event_type IN $writeOpsSql)""".stripMargin

  /** File-metadata fixture CTE — mirrors FilePlan.fileRelation. */
  private val filesCte =
    """files AS (
      |  SELECT o_orderstatus || '_' || (o_orderkey % 64) AS part_key,
      |         o_orderkey AS file_seq,
      |         'f_' || o_orderkey AS path,
      |         CAST(floor(o_totalprice) AS BIGINT) * 1000 AS size_bytes
      |  FROM orders)""".stripMargin

  private val cap = EngineConfig.DefaultGroupCapBytes

  /** now − timeThreshold in epoch ms (shared with DecisionQueries). */
  private val Decide_staleMs =
    graft.ops.Decide.staleCutoffMs(graft.model.EngineConfig())

  val pack: QueryPack = QueryPack(
    queries = Map(
      "reporter_prop_strip" -> ((s, dir) =>
        Props.stripReporterRelation(Props.propsRelation(s, dir))),

      "props_prefix_select" -> ((s, dir) =>
        Props.prefixSelectRelation(Props.propsRelation(s, dir),
          "optimize-data.spark.configs.")),

      "sql_options_literal" -> ((s, dir) =>
        Codegen.optionsLiteralPerTable(EventOps.snapshotLog(s, dir))),

      "rewrite_sql_codegen" -> ((s, dir) =>
        Codegen.rewriteSqlPerTable(EventOps.snapshotLog(s, dir))),

      "athena_sql_codegen" -> ((s, dir) =>
        Codegen.athenaSqlPerTable(EventOps.snapshotLog(s, dir))),

      "spark_conf_flags" -> ((s, dir) =>
        Codegen.confFlagRows(EventOps.snapshotLog(s, dir))),

      "filegroup_planning" -> ((s, dir) =>
        FilePlan.filegroupPlanning(FilePlan.fileRelation(s, dir))),

      "small_file_metrics" -> ((s, dir) =>
        FilePlan.smallFileMetrics(FilePlan.fileRelation(s, dir))),

      "maintenance_budget" -> ((s, dir) =>
        FilePlan.maintenanceBudget(FilePlan.fileRelation(s, dir))),

      "zone_map_prune" -> ((s, dir) =>
        FilePlan.zoneMapPrune(graft.Tables.load(s, dir, "lineitem"))),

      // Orphan files — the third Iceberg maintenance action next to
      // compaction and snapshot expiry: data files on disk that no live
      // snapshot references. An anti-join of the file listing against the
      // referenced-path set; at scale both sides are metadata (~1 row per
      // file) and the join key is the path, so this never touches data.
      "orphan_files" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val disk = FilePlan.fileRelation(s, dir)
          .select(col("path"), col("size_bytes"))
        val live = EventOps.snapshotLog(s, dir)
          .select(concat(lit("f_"), col("snapshot_id")).as("path"))
        disk.join(live, Seq("path"), "left_anti")
      }),

      // Composition: the decision joined with the generated command —
      // exactly what dispatch submits per triggered table (SURVEY.md §3.1).
      "maintenance_report" -> ((s, dir) => {
        import org.apache.spark.sql.functions.col
        val decisions = graft.ops.Decide.shouldOptimize(
          EventOps.snapshotLog(s, dir), graft.model.EngineConfig())
        val cmds = Codegen.rewriteSqlPerTable(EventOps.snapshotLog(s, dir))
        decisions.filter(col("should_optimize"))
          .join(cmds, Seq("table_id"))
          .select(col("table_id"), col("n_commits_since_replace"),
            col("rewrite_sql"))
      })),

    oracles = Map(
      "reporter_prop_strip" ->
        s"""WITH $propsCte
           |SELECT event_id, key, value FROM props
           |WHERE key NOT IN ('metrics-reporter-impl',
           |                  'optimize-data.commit-threshold',
           |                  'optimize-data.time-threshold-ms')""".stripMargin,

      "props_prefix_select" ->
        s"""WITH $propsCte
           |SELECT event_id, substr(key, 29) AS conf_key, value FROM props
           |WHERE key LIKE 'optimize-data.spark.configs.%'""".stripMargin,

      "sql_options_literal" ->
        s"""WITH $logCte
           |SELECT table_id,
           |  'map(''commit-count'',''' || count(*) ||
           |  ''',''partial-progress.enabled'',''true'',' ||
           |  '''max-file-group-size-bytes'',''10737418240'')' AS options_sql
           |FROM log GROUP BY table_id""".stripMargin,

      "rewrite_sql_codegen" ->
        s"""WITH $logCte
           |SELECT DISTINCT table_id,
           |  'CALL aws_ebtm.system.rewrite_data_files(table => ''db.tbl_'
           |  || table_id ||
           |  ''', options => map(''partial-progress.enabled'',''true'',' ||
           |  '''max-file-group-size-bytes'',''10737418240''), ' ||
           |  'strategy => ''binpack'')' AS rewrite_sql
           |FROM log""".stripMargin,

      "athena_sql_codegen" ->
        s"""WITH $logCte
           |SELECT DISTINCT table_id,
           |  'OPTIMIZE db.tbl_' || table_id ||
           |  ' REWRITE DATA USING BIN_PACK;' AS athena_sql
           |FROM log""".stripMargin,

      "spark_conf_flags" ->
        s"""WITH $logCte,
           |confs(conf_key, val) AS (VALUES
           |  ('spark.driver.cores', '4'),
           |  ('spark.driver.memory', '32g'),
           |  ('spark.dynamicAllocation.enabled', 'false'),
           |  ('spark.executor.cores', '4'),
           |  ('spark.executor.instances', '10'),
           |  ('spark.executor.memory', '16g')),
           |t AS (SELECT DISTINCT table_id FROM log)
           |SELECT table_id, conf_key,
           |  '--conf ' || conf_key || '=' || val AS arg
           |FROM t CROSS JOIN confs""".stripMargin,

      // True greedy capping needs running state (each boundary depends on
      // every earlier file), so the oracle walks files in order per
      // partition with a recursive CTE carrying (group_id, acc).
      "filegroup_planning" ->
        s"""WITH RECURSIVE $filesCte,
           |seq AS (
           |  SELECT part_key, path, size_bytes,
           |    CAST(row_number() OVER (
           |      PARTITION BY part_key ORDER BY file_seq) AS BIGINT) AS rn
           |  FROM files),
           |g AS (
           |  SELECT part_key, path, size_bytes, rn,
           |    CAST(0 AS BIGINT) AS group_id, size_bytes AS acc
           |  FROM seq WHERE rn = 1
           |  UNION ALL
           |  SELECT s.part_key, s.path, s.size_bytes, s.rn,
           |    CASE WHEN g.acc + s.size_bytes > $cap
           |         THEN g.group_id + 1 ELSE g.group_id END AS group_id,
           |    CASE WHEN g.acc + s.size_bytes > $cap
           |         THEN s.size_bytes ELSE g.acc + s.size_bytes END AS acc
           |  FROM g JOIN seq s ON s.part_key = g.part_key AND s.rn = g.rn + 1)
           |SELECT part_key, path, size_bytes, group_id FROM g""".stripMargin,

      "orphan_files" ->
        s"""WITH $filesCte,
           |live AS (
           |  SELECT DISTINCT 'f_' || event_id AS path FROM events
           |  WHERE event_type IN $writeOpsSql)
           |SELECT f.path, f.size_bytes
           |FROM files f LEFT JOIN live l ON f.path = l.path
           |WHERE l.path IS NULL""".stripMargin,

      "maintenance_report" ->
        s"""WITH fulllog AS (
           |  SELECT user_id AS table_id, epoch_ms(ts) AS ts_ms,
           |    CASE WHEN event_type = 'purchase' THEN 'replace'
           |         ELSE 'append' END AS operation
           |  FROM events WHERE event_type IN $writeOpsSql),
           |marked AS (
           |  SELECT *, max(CASE WHEN operation = 'replace' THEN ts_ms END)
           |              OVER (PARTITION BY table_id) AS lr
           |  FROM fulllog),
           |cut AS (
           |  SELECT table_id, ts_ms FROM marked
           |  WHERE lr IS NULL OR ts_ms > lr),
           |agg AS (
           |  SELECT table_id, count(*) AS n,
           |         max(CASE WHEN ts_ms <= ${Decide_staleMs} THEN 1 ELSE 0 END)
           |           AS stale
           |  FROM cut GROUP BY table_id),
           |t AS (SELECT DISTINCT table_id FROM fulllog),
           |d AS (
           |  SELECT t.table_id, COALESCE(n, 0) AS n_commits_since_replace,
           |    (COALESCE(n, 0) >= 10 OR COALESCE(stale, 0) = 1) AS so
           |  FROM t LEFT JOIN agg USING (table_id))
           |SELECT table_id, n_commits_since_replace,
           |  'CALL aws_ebtm.system.rewrite_data_files(table => ''db.tbl_'
           |  || table_id ||
           |  ''', options => map(''partial-progress.enabled'',''true'',' ||
           |  '''max-file-group-size-bytes'',''10737418240''), ' ||
           |  'strategy => ''binpack'')' AS rewrite_sql
           |FROM d WHERE so""".stripMargin,

      "zone_map_prune" ->
        """WITH z AS (
          |  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
          |           AS BIGINT) AS file_id,
          |    count(*) AS n_rows,
          |    min(epoch_ms(l_shipdate)) AS min_ship_ms,
          |    max(epoch_ms(l_shipdate)) AS max_ship_ms,
          |    min(CAST(l_quantity AS INTEGER)) AS min_qty,
          |    max(CAST(l_quantity AS INTEGER)) AS max_qty
          |  FROM lineitem GROUP BY 1)
          |SELECT file_id, n_rows, min_ship_ms, max_ship_ms, min_qty, max_qty,
          |  (max_ship_ms < epoch_ms(TIMESTAMP '1997-01-01 00:00:00') OR
          |   min_ship_ms >= epoch_ms(TIMESTAMP '1997-04-01 00:00:00'))
          |    AS skip_ship,
          |  (min_qty >= 5) AS skip_qty
          |FROM z""".stripMargin,

      "small_file_metrics" ->
        s"""WITH $filesCte
           |SELECT part_key,
           |  count(*) AS n_files,
           |  CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           |  min(size_bytes) AS min_bytes,
           |  max(size_bytes) AS max_bytes,
           |  CAST(sum(CASE WHEN size_bytes < ${FilePlan.SmallFileBytes}
           |       THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
           |  CAST(sum(size_bytes) AS BIGINT) // count(*) AS avg_bytes
           |FROM files GROUP BY part_key""".stripMargin,

      // Greedy benefit-ordered admission under the rewrite-bytes budget;
      // ceil via (x + target - 1) // target, all integer.
      "maintenance_budget" ->
        s"""WITH $filesCte,
           |m AS (SELECT part_key, count(*) AS n_files,
           |        CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           |        CAST(sum(CASE WHEN size_bytes < ${FilePlan.SmallFileBytes}
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_small
           |      FROM files GROUP BY part_key),
           |cand AS (
           |  SELECT part_key, n_files, n_small, total_bytes,
           |    n_files - (total_bytes + ${FilePlan.TargetFileBytes - 1})
           |      // ${FilePlan.TargetFileBytes} AS files_saved
           |  FROM m
           |  WHERE n_small > 0
           |    AND n_files - (total_bytes + ${FilePlan.TargetFileBytes - 1})
           |          // ${FilePlan.TargetFileBytes} > 0),
           |r AS (
           |  SELECT *, CAST(sum(total_bytes) OVER (
           |      ORDER BY files_saved DESC, part_key
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bytes
           |  FROM cand)
           |SELECT part_key, n_files, n_small, total_bytes,
           |  CAST(files_saved AS BIGINT) AS files_saved, cum_bytes,
           |  (cum_bytes <= ${FilePlan.DefaultBudgetBytes}) AS selected
           |FROM r""".stripMargin))
}
