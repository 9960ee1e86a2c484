package graft.engine

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import graft.model.{CompactionSpec, EngineConfig}
import graft.ops.Codegen

/** query_file_write (SURVEY.md §2.1): the reference uploads generated job
  * files to object storage before submitting — a `.sql` entrypoint for the
  * EKS SparkSqlJobDriver (EmrOnEksOptimizeDataExecutor.java:76) and a
  * generated 3-line PySpark wrapper script for EMR Serverless
  * (EmrServerlessOptimizeDataExecutor.java:41-44, 123-135), via
  * `createFile` (BaseEmrOptimizeDataExecutor.java:82-89). Locally the
  * object store is a directory; ids are caller-supplied (the reference's
  * random UUID file names are parameterized out for determinism,
  * SURVEY.md §7.4). */
object QueryFiles {

  /** The generated PySpark wrapper around a SQL statement — same shape as
    * the reference's PYTHON_JOB_TEMPLATE. */
  def pySparkScript(sql: String): String =
    Seq(
      "from pyspark.sql import SparkSession",
      "spark = (SparkSession.builder.getOrCreate())",
      s"""spark.sql("$sql").show()""").mkString("\n")

  /** Write content to `<dir>/<name>`, creating parents; overwrites. */
  def createFile(dir: String, name: String, content: String): Path = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    p
  }

  /** Write the `.sql` job entrypoint for a compaction spec (EKS path). */
  def writeSqlEntrypoint(dir: String, id: String, spec: CompactionSpec): Path =
    createFile(dir, s"query-$id.sql", Codegen.rewriteDataFilesSql(spec))

  /** Write the generated PySpark job script (Serverless path). */
  def writePySparkJob(dir: String, id: String, spec: CompactionSpec): Path =
    createFile(dir, s"job-$id.py",
      pySparkScript(Codegen.rewriteDataFilesSql(spec)))

  // ---- EKS StartJobRun template (EmrOnEksOptimizeDataExecutor.java) ----

  /** Reference constants (EmrOnEksOptimizeDataExecutor.java:35-39). */
  val PersistentAppUi = "ENABLED"
  val EksLogGroup = "/aws/emr-containers"
  val EksLogPrefix = "iceberg"

  /** Required-prop check, reference message preserved verbatim — including
    * its "be be" typo (EmrOnEksOptimizeDataExecutor.java:56-69,
    * BaseEmrOptimizeDataExecutor.java:56-60). */
  private def required(props: Map[String, String], key: String): String =
    props.getOrElse(key,
      throw new IllegalArgumentException(s"$key should be be set"))

  /** The SparkSqlParameters string for the EKS job driver
    * (BaseEmrOptimizeDataExecutor.sparkSqlConfigurations +
    * EMRSparkUtil.buildSparkKubernetesFileUploadPath, joined with a
    * trailing space exactly like buildSparkSqlParameters :152-160):
    * extensions conf, job-sizing confs (prefix-overridable, sorted for
    * determinism — the repo-wide confFlags convention), the engine jar,
    * and the Kubernetes upload path. */
  def eksSparkSqlParameters(props: Map[String, String]): String = {
    val uploadBucket = required(props, EngineConfig.EmrUploadBucketKey)
    val cfg = EngineConfig.fromProperties(props)
    val parts =
      Seq("--conf spark.sql.extensions=" +
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions") ++
        Codegen.confFlags(cfg.sparkConfigs) ++
        Seq("--jars /usr/share/aws/iceberg/lib/iceberg-spark3-runtime.jar",
          s"--conf spark.kubernetes.file.upload.path=$uploadBucket")
    parts.mkString(" ") + " "
  }

  /** Full EKS submission as a `StartJobRun`-shaped parameter block
    * (EmrOnEksOptimizeDataExecutor.java:89-121): job name, cluster/role/
    * release identity (each a required prop, :56-69), the SparkSql job
    * driver pointing at the uploaded `.sql` entrypoint, and the
    * monitoring configuration the reference always attaches — persistent
    * app UI, CloudWatch log group/stream-prefix, and the S3 log-upload
    * path under the upload bucket (:105-120, constants :35-39). */
  def eksStartJobRunParams(tableName: String, queryFilePath: String,
      props: Map[String, String]): String = {
    val clusterId = required(props, EngineConfig.EmrClusterIdKey)
    val roleArn = required(props, EngineConfig.IamExecutionRoleArnKey)
    val release = required(props, EngineConfig.EmrReleaseLabelKey)
    val bucket = required(props, EngineConfig.EmrUploadBucketKey)
    s"StartJobRun(Name='OptimizeJob-$tableName', " +
      s"VirtualClusterId='$clusterId', ExecutionRoleArn='$roleArn', " +
      s"ReleaseLabel='$release', " +
      s"JobDriver(SparkSqlJobDriver(EntryPoint='$queryFilePath', " +
      s"SparkSqlParameters='${eksSparkSqlParameters(props)}')), " +
      "ConfigurationOverrides(MonitoringConfiguration(" +
      s"PersistentAppUI='$PersistentAppUi', " +
      s"CloudWatchMonitoringConfiguration(LogGroupName='$EksLogGroup', " +
      s"LogStreamNamePrefix='$EksLogPrefix'), " +
      s"S3MonitoringConfiguration(LogUri='$bucket/logs/'))))"
  }
}
