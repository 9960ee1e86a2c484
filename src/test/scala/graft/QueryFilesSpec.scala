package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.QueryFiles
import graft.model.CompactionSpec

/** query_file_write: golden script text + file round-trips. */
class QueryFilesSpec extends AnyFunSuite with TestTempDirs {

  test("pyspark wrapper script matches the reference template shape") {
    assert(QueryFiles.pySparkScript("SELECT 1") ===
      """from pyspark.sql import SparkSession
        |spark = (SparkSession.builder.getOrCreate())
        |spark.sql("SELECT 1").show()""".stripMargin)
  }

  test("sql entrypoint file round-trips the generated command") {
    val dir = tempDir("graft-qf")
    val p = QueryFiles.writeSqlEntrypoint(dir, "j1",
      CompactionSpec("db.t", options = Map("k" -> "v")))
    assert(p.getFileName.toString === "query-j1.sql")
    assert(Files.readString(p) ===
      "CALL aws_ebtm.system.rewrite_data_files(table => 'db.t', " +
        "options => map('k','v'), strategy => 'binpack')")
  }

  test("pyspark job file embeds the command") {
    val dir = tempDir("graft-qf")
    val p = QueryFiles.writePySparkJob(dir, "j2", CompactionSpec("db.t2"))
    val content = Files.readString(p)
    assert(p.getFileName.toString === "job-j2.py")
    assert(content.startsWith("from pyspark.sql import SparkSession"))
    assert(content.contains("rewrite_data_files(table => 'db.t2'"))
    assert(content.endsWith(".show()"))
  }

  private val eksProps = Map(
    "optimize-data.emr.cluster-id" -> "vc-123",
    "optimize-data.iam.execution-role-arn" -> "arn:aws:iam::1:role/r",
    "optimize-data.emr.release-label" -> "emr-6.9.0-latest",
    "optimize-data.emr.upload-bucket" -> "s3://uploads",
    "optimize-data.spark.configs.spark.executor.memory" -> "16g")

  test("EKS StartJobRun golden: monitoring block rides with the job driver") {
    val got = QueryFiles.eksStartJobRunParams("db.t", "s3://uploads/query/query-j1.sql", eksProps)
    assert(got ===
      "StartJobRun(Name='OptimizeJob-db.t', VirtualClusterId='vc-123', " +
        "ExecutionRoleArn='arn:aws:iam::1:role/r', " +
        "ReleaseLabel='emr-6.9.0-latest', " +
        "JobDriver(SparkSqlJobDriver(EntryPoint='s3://uploads/query/query-j1.sql', " +
        "SparkSqlParameters='--conf spark.sql.extensions=" +
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions " +
        "--conf spark.executor.memory=16g " +
        "--jars /usr/share/aws/iceberg/lib/iceberg-spark3-runtime.jar " +
        "--conf spark.kubernetes.file.upload.path=s3://uploads ')), " +
        "ConfigurationOverrides(MonitoringConfiguration(" +
        "PersistentAppUI='ENABLED', " +
        "CloudWatchMonitoringConfiguration(LogGroupName='/aws/emr-containers', " +
        "LogStreamNamePrefix='iceberg'), " +
        "S3MonitoringConfiguration(LogUri='s3://uploads/logs/'))))")
  }

  test("EKS StartJobRun rejects each missing required prop") {
    Seq("optimize-data.emr.cluster-id",
      "optimize-data.iam.execution-role-arn",
      "optimize-data.emr.release-label",
      "optimize-data.emr.upload-bucket").foreach { key =>
      val e = intercept[IllegalArgumentException] {
        QueryFiles.eksStartJobRunParams("db.t", "s3://u/q.sql", eksProps - key)
      }
      // reference message shape (EmrOnEksOptimizeDataExecutor.java:56-69)
      assert(e.getMessage === s"$key should be be set")
    }
  }

  test("createFile overwrites existing content") {
    val dir = tempDir("graft-qf")
    QueryFiles.createFile(dir, "a.sql", "one")
    val p = QueryFiles.createFile(dir, "a.sql", "two")
    assert(Files.readString(p) === "two")
  }
}
