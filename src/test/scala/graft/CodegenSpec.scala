package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{CompactionSpec, EngineConfig}
import graft.ops.{Codegen, EventOps, Props}

/** Golden-string tests for maintenance-command codegen (exact expected text
  * per EMRSparkUtil.java:93-95 javadoc shape and
  * AthenaOptimizeDataExecutor.java:35) plus config/property pure functions. */
class CodegenSpec extends AnyFunSuite {

  test("rewrite SQL with explicit single option matches reference shape") {
    val spec = CompactionSpec("db_name.table_name", "binpack",
      options = Map("partial-progress.enabled" -> "true"))
    assert(Codegen.rewriteDataFilesSql(spec) ===
      "CALL aws_ebtm.system.rewrite_data_files(table => 'db_name.table_name', " +
        "options => map('partial-progress.enabled','true'), strategy => 'binpack')")
  }

  test("rewrite SQL with default options") {
    val spec = CompactionSpec("db.t")
    assert(Codegen.rewriteDataFilesSql(spec) ===
      "CALL aws_ebtm.system.rewrite_data_files(table => 'db.t', options => " +
        "map('partial-progress.enabled','true'," +
        "'max-file-group-size-bytes','10737418240'), strategy => 'binpack')")
  }

  test("rewrite SQL with sort strategy appends sort_order clause") {
    val spec = CompactionSpec("db.t", "sort", Map("k" -> "v"),
      Some("c1 DESC NULLS LAST, c2 ASC"))
    assert(Codegen.rewriteDataFilesSql(spec) ===
      "CALL aws_ebtm.system.rewrite_data_files(table => 'db.t', " +
        "options => map('k','v'), strategy => 'sort', " +
        "sort_order => 'c1 DESC NULLS LAST, c2 ASC')")
  }

  test("rewrite SQL omits empty options clause") {
    val spec = CompactionSpec("db.t", options = Map.empty)
    assert(Codegen.rewriteDataFilesSql(spec) ===
      "CALL aws_ebtm.system.rewrite_data_files(table => 'db.t', strategy => 'binpack')")
  }

  test("athena golden string") {
    assert(Codegen.athenaOptimizeSql("db.t") ===
      "OPTIMIZE db.t REWRITE DATA USING BIN_PACK;")
  }

  test("athena StartQueryExecution golden: context + result configuration") {
    // AthenaOptimizeDataExecutor.java:86-104 — the data-catalog property
    // value rides in the QueryExecutionContext *database* field (the
    // reference quirk, :89-90), the output bucket in ResultConfiguration.
    val cfg = EngineConfig.fromProperties(Map(
      "optimize-data.athena.output-bucket" -> "s3://results/athena/"))
    assert(cfg.athenaDataCatalog === "AwsDataCatalog") // default, :33-35
    assert(Codegen.athenaStartQueryParams("db.t", cfg) ===
      "StartQueryExecution(" +
        "QueryString='OPTIMIZE db.t REWRITE DATA USING BIN_PACK;', " +
        "QueryExecutionContext(Database='AwsDataCatalog'), " +
        "ResultConfiguration(OutputLocation='s3://results/athena/'))")
    // explicit catalog overrides the default
    val cfg2 = EngineConfig.fromProperties(Map(
      "optimize-data.athena.output-bucket" -> "s3://b",
      "optimize-data.athena.data-catalog" -> "my_catalog"))
    assert(Codegen.athenaStartQueryParams("db.t", cfg2).contains(
      "QueryExecutionContext(Database='my_catalog')"))
  }

  test("athena StartQueryExecution requires the output bucket") {
    val e = intercept[IllegalArgumentException] {
      Codegen.athenaStartQueryParams("db.t", EngineConfig())
    }
    // reference message preserved (AthenaOptimizeDataExecutor.java:64)
    assert(e.getMessage.contains("Invalid output bucket: null"))
  }

  test("conf flags render sorted --conf k=v") {
    assert(Codegen.confFlags(Map("b" -> "2", "a" -> "1")) ===
      Seq("--conf a=1", "--conf b=2"))
  }

  test("sort_order requires sort strategy") {
    intercept[IllegalArgumentException] {
      CompactionSpec("db.t", "binpack", Map.empty, Some("c1"))
    }
  }

  test("EngineConfig refuses a config that cannot compact when it is built") {
    import EngineConfig.{SortOrderKey, StrategyKey}
    val bad: Seq[() => EngineConfig] = Seq(
      () => EngineConfig(strategy = "zorder"),
      () => EngineConfig(strategy = "sort"),
      () => EngineConfig(sortOrder = Some("c1")),
      () => EngineConfig(strategy = "sort", sortOrder = Some("c1 SIDEWAYS")),
      () => EngineConfig(strategy = "sort", sortOrder = Some(" , ")),
      () => EngineConfig.fromProperties(Map(StrategyKey -> "sort")),
      () => EngineConfig.fromProperties(Map(SortOrderKey -> "c1")),
      () => EngineConfig().copy(strategy = "sort"))
    bad.zipWithIndex.foreach { case (build, i) =>
      intercept[IllegalArgumentException](build(), s"case $i")
    }
  }

  test("table ident parse drops catalog level") {
    assert(EventOps.parseIdent("glue.db.t") === "db.t")
    assert(EventOps.parseIdent("db.t") === "t")
  }

  test("EngineConfig defaults mirror the reference") {
    val c = EngineConfig()
    assert(c.commitThreshold === 10)
    assert(c.timeThresholdMs === 10800000L)
    assert(c.sleepWaitMs === 2000L)
    assert(c.strategy === "binpack")
    assert(c.options === Map(
      "partial-progress.enabled" -> "true",
      "max-file-group-size-bytes" -> "10737418240"))
  }

  test("EngineConfig.fromProperties parses overrides and prefixed maps") {
    val c = EngineConfig.fromProperties(Map(
      "optimize-data.commit-threshold" -> "5",
      "optimize-data.time-threshold-ms" -> "1000",
      "optimize-data.synchronous-enabled" -> "true",
      "optimize-data.strategy" -> "sort",
      "optimize-data.sort-order" -> "c1 DESC",
      "optimize-data.options.foo" -> "bar",
      "optimize-data.spark.configs.spark.executor.memory" -> "8g"))
    assert(c.commitThreshold === 5)
    assert(c.timeThresholdMs === 1000L)
    assert(c.synchronousEnabled)
    assert(c.strategy === "sort")
    assert(c.sortOrder === Some("c1 DESC"))
    assert(c.options === Map("foo" -> "bar"))
    assert(c.sparkConfigs === Map("spark.executor.memory" -> "8g"))
  }

  test("invalid config rejected") {
    intercept[IllegalArgumentException] { EngineConfig(commitThreshold = 0) }
  }

  test("GraftExtensions exposes native expressions on the SQL surface") {
    // TestSpark's session is built with spark.sql.extensions =
    // graft.GraftExtensions — no imperative register() calls anywhere.
    val s = TestSpark.spark
    import s.implicits._
    Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "text").createOrReplaceTempView("ext_docs")
    val row = s.sql(
      """SELECT rolling_hash(text) AS rh, simhash64(text) AS sh,
        |  size(minhash_sig(text)) AS n_sig, size(shingle_set(text)) AS n_sh,
        |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos
        |FROM ext_docs""".stripMargin).collect()(0)
    assert(row.getInt(2) === 64)  // 64 minhash permutations
    assert(row.getInt(3) === 2)   // 6 words -> 2 distinct 5-gram shingles
    assert(row.getDouble(4) === 1.0)
  }

  test("z_order2 interleaves bits (golden values, SQL surface)") {
    val s = TestSpark.spark
    // golden: z(0,0)=0, z(1,0)=1, z(0,1)=2, z(3,5)=0b100111=39
    assert(graft.functions.ZOrderImpl.interleave(0, 0) === 0L)
    assert(graft.functions.ZOrderImpl.interleave(1, 0) === 1L)
    assert(graft.functions.ZOrderImpl.interleave(0, 1) === 2L)
    assert(graft.functions.ZOrderImpl.interleave(3, 5) === 39L)
    // full-width: interleaving is a bijection on (int, int)
    assert(graft.functions.ZOrderImpl.interleave(-1, -1) === -1L)
    val row = s.sql("SELECT z_order2(3, 5) AS z").collect()(0)
    assert(row.getLong(0) === 39L)
  }

  test("z_order2 accepts int-or-narrower, rejects wider integrals and non-numeric") {
    val s = TestSpark.spark
    // tinyint/smallint/int are accepted as-is (interleave is defined on the
    // low 32 bits and these fit); an explicit CAST to INT is the contract
    // for wider types
    val r = s.sql(
      """SELECT z_order2(CAST(3 AS SMALLINT), 5) AS z1,
        |       z_order2(CAST(3 AS TINYINT), CAST(5 AS INT)) AS z2,
        |       z_order2(CAST(CAST(3 AS BIGINT) AS INT), 5) AS z3""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) === 39L)
    assert(r.getLong(1) === 39L)
    assert(r.getLong(2) === 39L)
    // untyped NULL literal: accepted (null-intolerant expression — result is
    // null; no value truncation possible), not an analysis error
    val rn = s.sql("SELECT z_order2(NULL, 5) AS zn").collect()(0)
    assert(rn.isNullAt(0))
    // bigint WITHOUT an explicit cast: analysis-time reject, never a silent
    // low-32-bit value truncation mid-job
    val eb = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT z_order2(CAST(3 AS BIGINT), 5)").collect()
    }
    assert(eb.getMessage.contains("int-or-narrower"))
    // non-numeric input: analysis-time error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT z_order2(array(1), 5)").collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH") ||
      e.getMessage.toLowerCase.contains("cannot resolve"))
  }

  test("SQL functions reject wrong arity with an analysis error") {
    val s = TestSpark.spark
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)))").collect()
    }
    assert(e1.getMessage.contains("cosine_sim"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT rolling_hash('a', 'b')").collect()
    }
    assert(e2.getMessage.contains("rolling_hash"))
  }

  test("reporter props stripped before inner catalog build") {
    // Reference removes exactly metrics-reporter-impl + the two optimize
    // thresholds; other metrics-reporter.* keys survive
    // (AwsTableManagementMetricsEvaluator.java:93-99).
    val props = Map(
      "metrics-reporter-impl" -> "X",
      "metrics-reporter.queue" -> "9",
      "optimize-data.commit-threshold" -> "10",
      "optimize-data.time-threshold-ms" -> "10800000",
      "optimize-data.impl" -> "local")
    assert(Props.stripReporterProps(props) === Map(
      "metrics-reporter.queue" -> "9",
      "optimize-data.impl" -> "local"))
  }

  test("prefix select strips prefix and falls back to defaults when empty") {
    val props = Map("optimize-data.options.a" -> "1", "other" -> "x")
    assert(Props.prefixSelect(props, "optimize-data.options.") === Map("a" -> "1"))
    assert(Props.prefixSelect(Map.empty, "p.", Map("d" -> "1")) === Map("d" -> "1"))
  }
}
