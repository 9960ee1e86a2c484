package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{CompactionSpec, EngineConfig, Fixture}

/** Maintenance-command generation (SURVEY.md §2.1 sql_options_literal,
  * rewrite_sql_codegen, athena_sql_codegen, spark_conf_flags).
  *
  * Producing the command *text* is reference behavior
  * (EMRSparkUtil.java:101-162, AthenaOptimizeDataExecutor.java:35), so the
  * engine keeps it — as pure Scala for the engine path and as codegen'd
  * string expressions (`format_string`/`concat`) for the per-table query
  * form, which stays inside whole-stage codegen at any scale.
  */
object Codegen {

  /** Catalog name used in generated Spark SQL (EMRSparkUtil.java:25). */
  val SparkCatalogName = "aws_ebtm"

  /** Options map → `map('k','v','k2','v2')` literal, iteration order of the
    * map preserved (EMRSparkUtil.java:136-162). */
  def optionsLiteral(options: Map[String, String]): String =
    options.map { case (k, v) => s"'$k','$v'" }.mkString("map(", ",", ")")

  /** Full compaction command with conditional options / sort_order
    * clauses (EMRSparkUtil.java:101-128); a valid spec always has a
    * strategy, and a sort order exactly when it sorts. */
  def rewriteDataFilesSql(spec: CompactionSpec): String = {
    val sb = new StringBuilder
    sb.append(s"CALL $SparkCatalogName.system.rewrite_data_files")
    sb.append("(")
    sb.append(s"table => '${spec.table}'")
    if (spec.options.nonEmpty)
      sb.append(s", options => ${optionsLiteral(spec.options)}")
    sb.append(s", strategy => '${spec.strategy}'")
    spec.sortOrder.foreach(o => sb.append(s", sort_order => '$o'"))
    sb.append(")")
    sb.toString
  }

  /** Athena dialect (AthenaOptimizeDataExecutor.java:35). */
  def athenaOptimizeSql(table: String): String =
    s"OPTIMIZE $table REWRITE DATA USING BIN_PACK;"

  /** The full Athena submission as a `StartQueryExecution`-shaped parameter
    * block (AthenaOptimizeDataExecutor.java:86-104): the OPTIMIZE text plus
    * the execution context and result configuration. Faithful to the
    * reference quirk that the *data-catalog* property value is passed as
    * the QueryExecutionContext *database* (:89-90, see SURVEY §3.3); the
    * result-output bucket is the Athena path's required prop (:64 —
    * [[graft.model.EngineConfig.requireAthenaOutputBucket]] raises with the
    * reference's message when absent). */
  def athenaStartQueryParams(table: String, cfg: EngineConfig): String = {
    val bucket = cfg.requireAthenaOutputBucket()
    s"StartQueryExecution(" +
      s"QueryString='${athenaOptimizeSql(table)}', " +
      s"QueryExecutionContext(Database='${cfg.athenaDataCatalog}'), " +
      s"ResultConfiguration(OutputLocation='$bucket'))"
  }

  /** Conf map → `--conf k=v` argument list (EMRSparkUtil.java:36-86). */
  def confFlags(confs: Map[String, String]): Seq[String] =
    confs.toSeq.sortBy(_._1).map { case (k, v) => s"--conf $k=$v" }

  // ---- per-table DataFrame forms over the snapshot log fixture ----

  /** Fixture table name for a table id column (`Fixture.tableName`). */
  private def tblName(id: Column): Column =
    concat(lit(Fixture.TablePrefix), id)

  /** Per-table options literal with one data-driven option (commit count)
    * ahead of the reference defaults — the literal template derives from
    * [[optionsLiteral]] + EngineConfig.DefaultOptions so the engine path
    * and the query form cannot drift. */
  def optionsLiteralPerTable(log: DataFrame): DataFrame = {
    val template =
      optionsLiteral(Map("commit-count" -> "%s") ++ EngineConfig.DefaultOptions)
    log.groupBy(col("table_id")).agg(count(lit(1)).as("n_commits"))
      .select(
        col("table_id"),
        format_string(template, col("n_commits")).as("options_sql"))
  }

  /** Per-table full rewrite command (binpack, default options) — template
    * generated by [[rewriteDataFilesSql]] with a %s placeholder table. */
  def rewriteSqlPerTable(log: DataFrame): DataFrame = {
    val template = rewriteDataFilesSql(CompactionSpec("%s"))
    log.select(col("table_id")).distinct().select(
      col("table_id"),
      format_string(template, tblName(col("table_id"))).as("rewrite_sql"))
  }

  /** Per-table Athena command. */
  def athenaSqlPerTable(log: DataFrame): DataFrame =
    log.select(col("table_id")).distinct().select(
      col("table_id"),
      format_string("OPTIMIZE %s REWRITE DATA USING BIN_PACK;",
        tblName(col("table_id"))).as("athena_sql"))

  /** Per-table `--conf k=v` rows for the default compaction-job sizing
    * (AwsManageProperties.java:60-66): one row per (table, conf). */
  def confFlagRows(log: DataFrame): DataFrame = {
    val entries = EngineConfig.DefaultSparkConfigs.toSeq.sorted
      .map { case (k, v) => struct(lit(k).as("k"), lit(v).as("v")) }
    log.select(col("table_id")).distinct()
      .select(col("table_id"), explode(array(entries: _*)).as("e"))
      .select(
        col("table_id"),
        col("e.k").as("conf_key"),
        concat(lit("--conf "), col("e.k"), lit("="), col("e.v")).as("arg"))
  }
}
